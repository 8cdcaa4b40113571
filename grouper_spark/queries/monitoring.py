"""Data-quality monitoring battery: distribution drift (PSI), exact
z-score anomaly flags, rolling medians, and merged-interval coverage.

These are the freshness/health checks a production pipeline schedules
next to every ingest. The shared design rule: aggregate the raw log to
a small keyed summary FIRST (one map-side-combined shuffle), then do
the statistical work on the summary — windows and joins touch thousands
of rows, not the corpus. Statistics that feed comparisons (z-scores)
are computed from exact integer sums in one closed-form double
expression, so both engines evaluate bit-identical arithmetic with no
accumulation-order dependence.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import md5_bits, money, money_sum
from ..sources import table
from . import query
from ..operators.core import literal_frame

_PSI_BIN = 100  # n_chars bin width


@query(
    "q124_psi_drift",
    oracle=f"""
WITH binned AS (
  SELECT source, CAST(n_chars // {_PSI_BIN} AS INT) AS bin FROM documents
), bins AS (
  SELECT DISTINCT bin FROM binned
), per_source AS (
  SELECT s.source, b.bin,
         CAST(1 + COALESCE(cnt, 0) AS BIGINT) AS c   -- add-one smoothing
  FROM (SELECT DISTINCT source FROM binned) s
  CROSS JOIN bins b
  LEFT JOIN (
    SELECT source, bin, COUNT(*) AS cnt FROM binned GROUP BY source, bin
  ) x ON x.source = s.source AND x.bin = b.bin
), source_tot AS (
  SELECT source, SUM(c) AS tot FROM per_source GROUP BY source
), global_c AS (
  SELECT bin, SUM(c) AS g FROM per_source GROUP BY bin
), global_tot AS (
  SELECT SUM(g) AS gtot FROM global_c
)
SELECT p.source,
       round(SUM(
         (CAST(p.c AS DOUBLE) / t.tot - CAST(g.g AS DOUBLE) / gt.gtot)
         * ln((CAST(p.c AS DOUBLE) / t.tot) / (CAST(g.g AS DOUBLE) / gt.gtot))
       ), 6) AS psi
FROM per_source p
JOIN source_tot t USING (source)
JOIN global_c g USING (bin)
CROSS JOIN global_tot gt
GROUP BY p.source
ORDER BY p.source
""",
    tags=("monitoring", "drift"),
)
def q124_psi_drift(spark, sf_dir):
    """Population Stability Index of each source's document-length
    distribution against the corpus-wide distribution — the standard
    ingest drift alarm. Lengths are binned (width 100), add-one
    smoothed so empty bins don't blow up the log term, and PSI is
    summed over ~6 bins per source. The raw corpus collapses to
    (source × bin) counts in one shuffle; everything after is
    dimension-sized. The per-source PSI sum is over ≤ a handful of
    doubles derived from exact integer counts, so rounding to 6 is
    engine-stable."""
    d = table(spark, sf_dir, "documents")
    binned = d.select(
        "source", (F.col("n_chars") / _PSI_BIN).cast("int").alias("bin")
    )
    counts = binned.groupBy("source", "bin").agg(F.count("*").alias("cnt"))
    sources = binned.select("source").distinct()
    bins = binned.select("bin").distinct()
    dense = (
        sources.crossJoin(F.broadcast(bins))
        .join(counts, ["source", "bin"], "left")
        .select(
            "source",
            "bin",
            (F.lit(1) + F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("c"),
        )
        # (source × bin)-sized and referenced by stot, gbin, and the
        # final PSI aggregate; checkpoint so the corpus binning runs
        # once instead of once per reference (12 duplicated scans)
        .localCheckpoint(eager=False)
    )
    stot = dense.groupBy("source").agg(F.sum("c").alias("tot"))
    gbin = dense.groupBy("bin").agg(F.sum("c").alias("g"))
    gtot = gbin.agg(F.sum("g").alias("gtot"))
    p_s = F.col("c").cast("double") / F.col("tot")
    p_g = F.col("g").cast("double") / F.col("gtot")
    return (
        dense.join(stot, "source")
        .join(F.broadcast(gbin), "bin")
        .crossJoin(F.broadcast(gtot))
        .groupBy("source")
        .agg(F.round(F.sum((p_s - p_g) * F.log(p_s / p_g)), 6).alias("psi"))
        .orderBy("source")
    )


@query(
    "q125_zscore_anomaly",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
), stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM daily GROUP BY event_type
)
SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day, d.c,
       round((d.c - CAST(s AS DOUBLE) / n)
             / sqrt((s2 - CAST(s AS DOUBLE) * s / n) / (n - 1)), 4) AS z,
       CAST(abs((d.c - CAST(s AS DOUBLE) / n)
             / sqrt((s2 - CAST(s AS DOUBLE) * s / n) / (n - 1))) > 2.0
            AS BOOLEAN) AS is_anomaly
FROM daily d JOIN stats USING (event_type)
ORDER BY event_type, day
""",
    tags=("monitoring", "anomaly"),
)
def q125_zscore_anomaly(spark, sf_dir):
    """Daily-volume anomaly flags: z-score of each (type, day) count
    against that type's 30-day mean/std. The mean and sample std are
    derived from exact bigint sums (n, Σc, Σc²) in ONE closed-form
    double expression — no stddev_samp accumulator whose summation
    order differs between engines — so z is bit-reproducible and the
    |z| > 2 flag can't flip across the oracle boundary."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("s2") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "day",
            "c",
            F.round(z, 4).alias("z"),
            (F.abs(z) > 2.0).alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q126_rolling_median",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
)
SELECT event_type, CAST(day AS TIMESTAMP) AS day, c,
       round(median(c) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             1) AS med7
FROM daily
ORDER BY event_type, day
""",
    tags=("monitoring", "window"),
)
def q126_rolling_median(spark, sf_dir):
    """Trailing 7-day median of daily volume per event type — the
    robust smoother dashboards use where a mean would chase spikes.
    Spark has no median window function; over the pre-aggregated daily
    summary the trailing frame is collect_list'd (≤7 bigints), sorted,
    and the middle element (or midpoint average, exactly .0/.5) taken.
    The collect_list trick is only sane because the window rides the
    SUMMARY (30 rows/type), never the raw log — the pre-aggregate is
    what makes it scale."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("c").over(w))
    n = F.size(arr)
    mid_lo = F.element_at(arr, (n / 2).cast("int"))
    mid_hi = F.element_at(arr, (n / 2).cast("int") + 1)
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int")).cast("double")
    ).otherwise((mid_lo + mid_hi) / 2.0)
    return (
        daily.select(
            "event_type",
            "day",
            "c",
            F.round(med, 1).alias("med7"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q127_interval_coverage",
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
         CAST(ts AS TIMESTAMP) + INTERVAL 300 SECOND AS e
  FROM events
), marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
                OR MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islands AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS isl
  FROM marked
), merged AS (
  SELECT user_id, isl, MIN(s) AS ms, MAX(e) AS me
  FROM islands GROUP BY user_id, isl
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(epoch_us(me) // 1000000 - epoch_us(ms) // 1000000)
            AS BIGINT) AS covered_s
FROM merged
GROUP BY user_id
ORDER BY user_id
""",
    tags=("monitoring", "temporal"),
)
def q127_interval_coverage(spark, sf_dir):
    """Merged-interval coverage per user: each event opens a 5-minute
    activity interval; overlapping intervals merge (classic
    merge-intervals), and the output is islands + total covered
    seconds — the sessionized-time metric billing/engagement pipelines
    compute. A running MAX(end) over the start-ordered intervals marks
    island boundaries without any self-join; all three windows and the
    aggregate share the user_id partitioning, so the log shuffles
    once."""
    from ..operators import merge_intervals

    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("e"),
    )
    merged = merge_intervals(iv, "user_id", "s", "e")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum(
                F.unix_timestamp("island_end") - F.unix_timestamp("island_start")
            )
            .cast("bigint")
            .alias("covered_s"),
        )
        .orderBy("user_id")
    )


@query(
    "q131_winsorize",
    oracle="""
WITH fences AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
), clamped AS (
  SELECT l.l_returnflag,
         CASE WHEN l_extendedprice < p05 THEN p05
              WHEN l_extendedprice > p95 THEN p95
              ELSE l_extendedprice END AS w,
         CAST(l_extendedprice < p05 AS INT) AS lo,
         CAST(l_extendedprice > p95 AS INT) AS hi
  FROM lineitem l JOIN fences f USING (l_returnflag)
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(lo) AS BIGINT) AS n_clamped_lo,
       CAST(SUM(hi) AS BIGINT) AS n_clamped_hi,
       CAST(SUM(CAST(ROUND(w * 100.0, 0) AS BIGINT)) / 100.0 AS DOUBLE)
         AS winsorized_sum
FROM clamped
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("monitoring", "curation"),
)
def q131_winsorize(spark, sf_dir):
    """Winsorization: clamp per-group outliers at the exact 5th/95th
    percentile fences — the heavy-tail taming step quality pipelines run
    before averaging scores. The fence table is group-cardinality-sized,
    so re-joining it onto the fact scan broadcasts (same shape as q91's
    IQR fences); interpolated percentiles are order-statistics, not
    accumulations, so both engines compute identical doubles, and the
    clamped sum is fixed-pointed to cents."""
    li = table(spark, sf_dir, "lineitem")
    fences = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("p05"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
    )
    joined = li.join(F.broadcast(fences), "l_returnflag")
    w = (
        F.when(F.col("l_extendedprice") < F.col("p05"), F.col("p05"))
        .when(F.col("l_extendedprice") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("l_extendedprice"))
    )
    return (
        joined.select(
            "l_returnflag",
            w.alias("w"),
            (F.col("l_extendedprice") < F.col("p05")).cast("int").alias("lo"),
            (F.col("l_extendedprice") > F.col("p95")).cast("int").alias("hi"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("lo").cast("bigint").alias("n_clamped_lo"),
            F.sum("hi").cast("bigint").alias("n_clamped_hi"),
            money_sum("w", "winsorized_sum"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q148_mad_robust",
    oracle="""
WITH med AS (
  SELECT lang, quantile_cont(n_chars, 0.5) AS m
  FROM documents GROUP BY lang
), dev AS (
  SELECT d.lang, med.m, abs(d.n_chars - med.m) AS ad
  FROM documents d JOIN med USING (lang)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(MAX(m), 6) AS median_r,
       round(quantile_cont(ad, 0.5), 6) AS mad_r
FROM dev
GROUP BY lang
ORDER BY lang
""",
    tags=("monitoring", "agg"),
)
def q148_mad_robust(spark, sf_dir):
    """Median absolute deviation per language — the robust spread
    estimator monitoring pipelines prefer over stddev (one wild outlier
    moves stddev, not MAD). Two grouped exact-percentile passes on the
    same lang key: median first, the per-lang medians broadcast back
    onto the scan for |x - median|, then the median of deviations.
    Both shuffles hash the same key, so the exchange is reused; exact
    interpolated percentiles keep the two engines bit-comparable
    (rounded to 1e-6 like q91's fences)."""
    d = table(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("m")
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "lang", "m", F.abs(F.col("n_chars") - F.col("m")).alias("ad")
    )
    return (
        dev.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.max("m"), 6).alias("median_r"),
            F.round(F.percentile("ad", F.lit(0.5)), 6).alias("mad_r"),
        )
        .orderBy("lang")
    )


@query(
    "q149_ewma_smoother",
    oracle="""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d,
         CAST(SUM(CAST(round(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
           AS day_value
  FROM events GROUP BY user_id, d
), series AS (
  SELECT user_id,
         list(day_value ORDER BY d) AS xs,
         COUNT(*) AS n_days
  FROM daily GROUP BY user_id
)
SELECT user_id, CAST(n_days AS BIGINT) AS n_days,
       round(list_reduce(xs, (acc, x) -> 0.25 * x + 0.75 * acc), 6)
         AS ewma_r
FROM series
ORDER BY user_id
""",
    tags=("monitoring", "temporal"),
)
def q149_ewma_smoother(spark, sf_dir):
    """Per-user EWMA (alpha = 0.25) over the daily value series — the
    classic monitoring smoother. EWMA is a sequential recurrence, not an
    associative aggregate, so it folds over each user's day-ordered
    series with a higher-order aggregate: daily fixed-point pre-agg
    shrinks the log to one row per (user, day), sort_array orders each
    user's bounded series, and F.aggregate runs the left fold JVM-side.
    Both engines fold the identical double sequence left-to-right, so
    the IEEE results match bit-for-bit before the 1e-6 display round.
    At 100 TB the state per user is days-bounded, and the daily pre-agg
    is map-side combined before the single user-key shuffle."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg((F.sum(money("value")).cast("double") / 100.0).alias("day_value"))
    series = daily.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("d", "day_value"))).alias("s"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    # DuckDB list_reduce seeds with element 1 and folds from element 2;
    # mirror that exactly: seed = xs[1], fold over slice(xs, 2, ...).
    xs = F.expr("transform(s, p -> p.day_value)")
    ewma = F.aggregate(
        F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
        F.element_at(xs, 1).cast("double"),
        lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
    )
    return series.select(
        "user_id", "n_days", F.round(ewma, 6).alias("ewma_r")
    ).orderBy("user_id")


@query(
    "q157_ks_drift",
    oracle="""
WITH s AS (
  SELECT CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
  FROM events WHERE event_type IN ('click', 'purchase')
), per_v AS (
  SELECT v, SUM(is1) AS d1, SUM(1 - is1) AS d2 FROM s GROUP BY v
), tot AS (
  SELECT SUM(d1) AS n1, SUM(d2) AS n2 FROM per_v
), cum AS (
  SELECT v,
         SUM(d1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1,
         SUM(d2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c2
  FROM per_v
), gaps AS (
  SELECT v, abs(c1 * tot.n2 - c2 * tot.n1) AS gap_num, tot.n1, tot.n2
  FROM cum, tot
)
SELECT CAST(MIN(v) FILTER (WHERE gap_num = m) AS BIGINT) AS argmax_cents,
       round(CAST(MAX(gap_num) AS DOUBLE) / (MAX(n1) * MAX(n2)), 6) AS ks_r
FROM (SELECT *, MAX(gap_num) OVER () AS m FROM gaps)
""",
    tags=("monitoring", "drift"),
)
def q157_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    'click' and 'purchase' value distributions — the distribution-drift
    test that catches shape changes PSI's fixed bins smear out. The
    supremum |F1 - F2| is computed in pure BIGINT: per-cents counts,
    a cumulative sum, and cross-multiplied gaps |c1*n2 - c2*n1| (no
    float CDFs until the single final division). The cumulative sum
    uses the same two-phase distributed prefix-sum shape as q147 —
    per-value-shard subtotals, a shard-count-sized offset window, and
    in-shard windows — so no corpus-sized single-partition sort; the
    arg-max value reports WHERE the distributions diverge most."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        money("value").alias("v"),
        (F.col("event_type") == "click").cast("bigint").alias("is1"),
    )
    per_v = s.groupBy("v").agg(
        F.sum("is1").alias("d1"), F.sum(1 - F.col("is1")).alias("d2")
    )
    per_v = per_v.withColumn("shard", (F.col("v") / 1024).cast("bigint"))
    shard_tot = per_v.groupBy("shard").agg(
        F.sum("d1").alias("s1"), F.sum("d2").alias("s2")
    )
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = shard_tot.select(
        "shard",
        F.coalesce(F.sum("s1").over(w_off), F.lit(0)).alias("o1"),
        F.coalesce(F.sum("s2").over(w_off), F.lit(0)).alias("o2"),
    )
    tot = per_v.agg(
        F.sum("d1").alias("n1"), F.sum("d2").alias("n2")
    )
    w_in = Window.partitionBy("shard").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        per_v.join(F.broadcast(offsets), "shard")
        .select(
            "v",
            (F.col("o1") + F.sum("d1").over(w_in)).alias("c1"),
            (F.col("o2") + F.sum("d2").over(w_in)).alias("c2"),
        )
        .crossJoin(F.broadcast(tot))
    )
    gaps = cum.select(
        "v",
        F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")).alias(
            "gap_num"
        ),
        "n1",
        "n2",
    )
    m = gaps.agg(F.max("gap_num").alias("m"))
    return (
        gaps.crossJoin(F.broadcast(m))
        .filter(F.col("gap_num") == F.col("m"))
        .agg(
            F.min("v").cast("bigint").alias("argmax_cents"),
            F.round(
                F.max("gap_num").cast("double")
                / (F.max("n1") * F.max("n2")),
                6,
            ).alias("ks_r"),
        )
    )


@query(
    "q163_gini_inequality",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS i
  FROM documents
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS s,
         CAST(SUM(i * n_chars) AS BIGINT) AS ws
  FROM ranked GROUP BY source
)
SELECT source, n, s,
       round((2.0 * ws) / (n * CAST(s AS DOUBLE))
             - (n + 1.0) / n, 6) AS gini_r
FROM agg
ORDER BY source
""",
    tags=("monitoring", "agg"),
)
def q163_gini_inequality(spark, sf_dir):
    """Gini coefficient of document-length mass per source — the
    inequality audit that tells a curation pipeline whether a source's
    token budget is spread across documents or concentrated in a few
    giants (a different failure mode than entropy or PSI catch). Uses
    the rank formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    within-source sorted lengths: one window ranking partitioned by
    source (deterministic doc_id tiebreak) and one integer aggregate —
    everything BIGINT until the single closed-form double expression,
    so both engines agree exactly. At 100 TB the sort is per-source
    partition-local, never global."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.withColumn("i", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("n_chars").cast("bigint").alias("s"),
            F.sum(F.col("i") * F.col("n_chars")).cast("bigint").alias("ws"),
        )
        .select(
            "source",
            "n",
            "s",
            F.round(
                (2.0 * F.col("ws")) / (F.col("n") * F.col("s").cast("double"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini_r"),
        )
        .orderBy("source")
    )


@query(
    "q166_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, day
), tot AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s
  FROM daily GROUP BY event_type
), cusum AS (
  SELECT d.event_type, d.day,
         SUM(d.c * t.n - t.s) OVER (PARTITION BY d.event_type
                                    ORDER BY d.day
                                    ROWS UNBOUNDED PRECEDING) AS g,
         t.n, t.s
  FROM daily d JOIN tot t USING (event_type)
), peak AS (
  SELECT event_type, MAX(abs(g)) AS m, MAX(n) AS n, MAX(s) AS s
  FROM cusum GROUP BY event_type
)
SELECT c.event_type,
       CAST(MIN(c.day) FILTER (WHERE abs(c.g) = p.m) AS DATE)
         AS change_day,
       CAST(p.m AS BIGINT) AS peak_scaled,
       round(CAST(p.m AS DOUBLE) / (p.n * p.n), 4) AS peak_per_day
FROM cusum c JOIN peak p USING (event_type)
GROUP BY c.event_type, p.m, p.n
ORDER BY c.event_type
""",
    tags=("monitoring", "anomaly"),
)
def q166_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point detection on daily volumes: the cumulative
    sum of deviations from each type's mean peaks AT the structural
    break — localizing WHEN a distribution shifted, which z-score
    (point outliers) and KS (two known samples) don't answer. The
    running sum is kept integer-exact by cross-multiplication:
    g_t = sum(c_i * n - S) avoids the fractional mean entirely, so
    argmax day and peak are bit-identical across engines. One daily
    pre-aggregate, windows partitioned per type over the tiny summary;
    first-day tiebreak on equal peaks is deterministic."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count("*").cast("bigint").alias("c"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        F.sum(F.col("c") * F.col("n") - F.col("s")).over(w).alias("g"),
        "n",
    )
    peak = cusum.groupBy("event_type").agg(
        F.max(F.abs("g")).alias("m"), F.max("n").alias("pn")
    )
    return (
        cusum.join(F.broadcast(peak), "event_type")
        .filter(F.abs(F.col("g")) == F.col("m"))
        .groupBy("event_type", "m", "pn")
        .agg(F.min("day").alias("change_day"))
        .select(
            "event_type",
            "change_day",
            F.col("m").cast("bigint").alias("peak_scaled"),
            F.round(
                F.col("m").cast("double") / (F.col("pn") * F.col("pn")), 4
            ).alias("peak_per_day"),
        )
        .orderBy("event_type")
    )


@query(
    "q168_chi_square_independence",
    oracle="""
WITH obs AS (
  SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) AS dow,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, dow
), rows_ AS (
  SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY event_type
), cols_ AS (
  SELECT dow, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY dow
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs
), cells AS (
  SELECT obs.event_type, obs.dow,
         CAST(ROUND(
           CAST((obs.o * tot.n - rows_.r * cols_.c) AS DOUBLE)
           * (obs.o * tot.n - rows_.r * cols_.c)
           / (CAST(tot.n AS DOUBLE) * rows_.r * cols_.c)
           * 1000000.0, 0) AS BIGINT) AS term_micro
  FROM obs
  JOIN rows_ USING (event_type)
  JOIN cols_ USING (dow)
  CROSS JOIN tot
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       round(CAST(SUM(term_micro) AS DOUBLE) / 1000000.0, 4) AS chi2_r
FROM cells
""",
    tags=("monitoring", "anomaly"),
)
def q168_chi_square_independence(spark, sf_dir):
    """Pearson chi-square independence test: is event type independent
    of day-of-week? The categorical counterpart to KS (continuous) and
    CUSUM (temporal) in the monitoring battery. Each cell's statistic
    uses the cross-multiplied form (O*N - R*C)^2 / (N*R*C) — exact
    BIGINT numerator from the contingency table, one double division —
    and is fixed-pointed to micro-units BEFORE the sum so the 35-cell
    reduction is order-independent across engines. The contingency
    table is one map-side-combined groupBy; margins are two tiny
    re-aggregations of it, broadcast back. At 100 TB the raw log
    collapses to (types x 7) cells before any statistics happen."""
    ev = table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    rows_ = obs.groupBy("event_type").agg(F.sum("o").cast("bigint").alias("r"))
    cols_ = obs.groupBy("dow").agg(F.sum("o").cast("bigint").alias("c"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    num = F.col("o") * F.col("n") - F.col("r") * F.col("c")
    term = money(
        num.cast("double")
        * num
        / (F.col("n").cast("double") * F.col("r") * F.col("c")),
        6,
    )
    cells = (
        obs.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "dow")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("term_micro"))
    )
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.round(F.sum("term_micro") / 1000000.0, 4).alias("chi2_r"),
    )


@query(
    "q170_higher_moments",
    oracle="""
WITH m AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS BIGINT) AS s1,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2,
         CAST(SUM(n_chars * n_chars * n_chars) AS BIGINT) AS s3,
         CAST(SUM(n_chars * n_chars * n_chars * n_chars) AS BIGINT) AS s4
  FROM documents GROUP BY lang
)
SELECT lang, n,
       round((CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s1 AS DOUBLE) / n))
             / pow(CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                   1.5), 4) AS skewness_r,
       round((CAST(s4 AS DOUBLE) / n
              - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
              + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                    * (CAST(s2 AS DOUBLE) / n)
              - 3.0 * pow(CAST(s1 AS DOUBLE) / n, 4.0))
             / pow(CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                   2.0) - 3.0, 4) AS ex_kurtosis_r
FROM m
ORDER BY lang
""",
    tags=("monitoring", "agg"),
)
def q170_higher_moments(spark, sf_dir):
    """Skewness and excess kurtosis of document lengths per language —
    the distribution-shape alarms (long right tail of giant docs,
    heavy-tailed vs near-normal) that mean/std miss. Spark's builtin
    skewness()/kurtosis() accumulate doubles in partition order and are
    NOT cross-engine reproducible; instead the four raw power sums are
    exact BIGINTs (one map-side-combined groupBy) and the central
    moments come from the closed-form expansion in one deterministic
    double expression per group — the same engine-stability technique
    as q125's z-scores, extended to 3rd and 4th order."""
    d = table(spark, sf_dir, "documents")
    x = F.col("n_chars")
    m = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("s1"),
        F.sum(x * x).cast("bigint").alias("s2"),
        F.sum(x * x * x).cast("bigint").alias("s3"),
        F.sum(x * x * x * x).cast("bigint").alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    m4 = F.col("s4").cast("double") / F.col("n")
    var = m2 - m1 * m1
    mu3 = m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1
    mu4 = m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 - 3.0 * F.pow(m1, 4.0)
    return m.select(
        "lang",
        "n",
        F.round(mu3 / F.pow(var, 1.5), 4).alias("skewness_r"),
        F.round(mu4 / F.pow(var, 2.0) - 3.0, 4).alias("ex_kurtosis_r"),
    ).orderBy("lang")


@query(
    "q178_expectation_suite",
    oracle="""
SELECT check_name, n_checked, n_failed,
       CAST(n_failed = 0 AS INT) AS passed
FROM (
  SELECT 'orders.o_orderkey.not_null' AS check_name,
         CAST(COUNT(*) AS BIGINT) AS n_checked,
         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_failed
  FROM orders
  UNION ALL
  SELECT 'orders.o_orderkey.unique',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders.o_totalprice.positive',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders.o_orderstatus.in_domain',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders.o_custkey.fk_customer',
         CAST(COUNT(*) AS BIGINT),
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
)
ORDER BY check_name
""",
    tags=("monitoring", "quality"),
)
def q178_expectation_suite(spark, sf_dir):
    """Declarative data-quality expectation suite (the Great-
    Expectations / dbt-test shape): five checks over orders —
    completeness, key uniqueness, value range, domain membership, and
    referential integrity against customer — emitted as one long-format
    result with a pass flag per check. The four intra-table checks fold
    into per-table aggregates (one scan each, map-side combined); the
    FK check is a left join counting orphans — no forced broadcast of
    customer (sf-scaled; AQE picks the strategy). At 100 TB this whole
    suite is two scans and one join — the cheap nightly gate before a
    table is published."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def check(name, n_checked, n_failed):
        return (
            F.lit(name).alias("check_name"),
            n_checked.cast("bigint").alias("n_checked"),
            n_failed.cast("bigint").alias("n_failed"),
        )

    intra = [
        o.agg(*check(
            "orders.o_orderkey.not_null",
            F.count("*"),
            F.sum(F.col("o_orderkey").isNull().cast("int")),
        )),
        o.agg(*check(
            "orders.o_orderkey.unique",
            F.count("*"),
            F.count("*") - F.countDistinct("o_orderkey"),
        )),
        o.agg(*check(
            "orders.o_totalprice.positive",
            F.count("*"),
            F.sum((F.col("o_totalprice") <= 0).cast("int")),
        )),
        o.agg(*check(
            "orders.o_orderstatus.in_domain",
            F.count("*"),
            F.sum((~F.col("o_orderstatus").isin("F", "O", "P")).cast("int")),
        )),
    ]
    fk = (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .agg(*check(
            "orders.o_custkey.fk_customer",
            F.count("*"),
            F.sum(F.col("c_custkey").isNull().cast("int")),
        ))
    )
    out = intra[0]
    for part in intra[1:] + [fk]:
        out = out.unionAll(part)
    return out.select(
        "check_name",
        "n_checked",
        "n_failed",
        (F.col("n_failed") == 0).cast("int").alias("passed"),
    ).orderBy("check_name")


@query(
    "q185_seasonal_baseline",
    oracle="""
WITH hourly AS (
  SELECT event_type,
         date_trunc('hour', ts) AS hr,
         CAST(dayofweek(ts) AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  GROUP BY 1, 2, 3, 4
), baseline AS (
  SELECT event_type, dow, hod,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(c) AS BIGINT) AS s
  FROM hourly
  GROUP BY 1, 2, 3
)
SELECT h.event_type, CAST(h.hr AS TIMESTAMP) AS hr, h.c,
       round(b.s * 1.0 / b.n_obs, 6) AS seasonal_mean,
       round(h.c - b.s * 1.0 / b.n_obs, 6) AS deviation,
       CAST(h.c * b.n_obs > 2 * b.s AS INT) AS is_spike
FROM hourly h
JOIN baseline b
  ON b.event_type = h.event_type AND b.dow = h.dow AND b.hod = h.hod
WHERE b.n_obs >= 3
ORDER BY h.event_type, h.hr
""",
    tags=("monitoring", "temporal"),
)
def q185_seasonal_baseline(spark, sf_dir):
    """Seasonal-naive anomaly detection: each (type, hour) volume is
    compared to the mean of the SAME hour-of-week across the whole
    series — the baseline that catches a quiet-Sunday-3am spike a
    global z-score (q125) would smooth over. The log collapses to
    hourly counts in one map-side-combined shuffle; the seasonal
    baseline is a (type × 168)-row aggregate that joins back
    broadcast-sized. The spike flag cross-multiplies exact integers
    (c·n > 2·s) so thresholding never touches a float."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hr"),
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    baseline = hourly.groupBy("event_type", "dow", "hod").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("c").cast("bigint").alias("s"),
    )
    return (
        hourly.join(F.broadcast(baseline), ["event_type", "dow", "hod"])
        .filter(F.col("n_obs") >= 3)
        .select(
            "event_type",
            "hr",
            "c",
            F.round(F.col("s") / F.col("n_obs"), 6).alias("seasonal_mean"),
            F.round(F.col("c") - F.col("s") / F.col("n_obs"), 6).alias(
                "deviation"
            ),
            (F.col("c") * F.col("n_obs") > 2 * F.col("s"))
            .cast("int")
            .alias("is_spike"),
        )
        .orderBy("event_type", "hr")
    )


@query(
    "q219_ab_test_ztest",
    oracle="""
WITH assigned AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 75.0
                  THEN 1 ELSE 0 END) AS converted
  FROM events
  GROUP BY 1, 2
), arm AS (
  SELECT variant, COUNT(*) AS n, SUM(converted) AS conv
  FROM assigned GROUP BY variant
), wide AS (
  SELECT
    MAX(CASE WHEN variant = 'A' THEN n END) AS na,
    MAX(CASE WHEN variant = 'A' THEN conv END) AS ca,
    MAX(CASE WHEN variant = 'B' THEN n END) AS nb,
    MAX(CASE WHEN variant = 'B' THEN conv END) AS cb
  FROM arm
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
       round(CAST(ca AS DOUBLE) / na, 6) AS p_a,
       round(CAST(cb AS DOUBLE) / nb, 6) AS p_b,
       round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 / na + 1.0 / nb)), 4) AS z_r
FROM wide
""",
    tags=("monitoring", "analytics"),
)
def q219_ab_test_ztest(spark, sf_dir):
    """Two-proportion z-test over a deterministic hash-assigned A/B
    split — the experimentation readout: users assign to variants by
    md5 (stable across reruns and engines, the same idiom as the q86
    split), converted = any high-value purchase (the rare-outcome
    definition that keeps arm variance nonzero), and the pooled z
    statistic compares arm conversion rates. Everything up to the
    1-row wide pivot is integer counts from one user-key aggregate;
    the closed-form z runs on exact integers, so the 4-dp statistic is
    engine-stable. At 100 TB the per-user aggregate is the only
    corpus-sized shuffle."""
    ev = table(spark, sf_dir, "events")
    variant = F.when(
        md5_bits(F.col("user_id").cast("string"), 8)
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assigned = ev.groupBy("user_id", variant.alias("variant")).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 75.0),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    arm = assigned.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arm.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("conv"))).alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    z = (pa - pb) / F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return wide.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("ca").cast("bigint").alias("conv_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("cb").cast("bigint").alias("conv_b"),
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(z, 4).alias("z_r"),
    )


@query(
    "q228_duplicate_payment_detect",
    oracle="""
WITH pay AS (
  SELECT o_orderkey, o_custkey,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 1000000 AS amt_band,
         epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS day
  FROM orders
)
SELECT a.o_custkey,
       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       CAST(a.amt_band AS BIGINT) AS amt_band,
       CAST(b.day - a.day AS BIGINT) AS days_apart
FROM pay a JOIN pay b
  ON a.o_custkey = b.o_custkey AND a.amt_band = b.amt_band
 AND a.o_orderkey < b.o_orderkey
 AND b.day - a.day BETWEEN -90 AND 90
ORDER BY a.o_custkey, order_a, order_b
""",
    tags=("monitoring", "join"),
)
def q228_duplicate_payment_detect(spark, sf_dir):
    """Duplicate-payment detection — the fraud/reconciliation screen:
    same customer, similar amount (same $10k band — the fixture's
    continuous prices never collide exactly), within a 90-day window.
    The candidate join is EQUI on (customer, amount-band) — the two
    dimensions that must match exactly — with the day-proximity check
    as a cheap residual predicate, so candidates are bounded by
    per-(customer, amount) group sizes, never per-customer order
    pairs. Day arithmetic is integer epoch-days; at 100 TB the same
    key pair is also the natural bucketing for a pre-sorted layout."""
    o = table(spark, sf_dir, "orders")
    band = (money("o_totalprice") / 1000000).cast("bigint")
    pay = o.select(
        "o_orderkey",
        "o_custkey",
        band.alias("amt_band"),
        (F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("day"),
    ).localCheckpoint(eager=False)
    a = pay.select(
        "o_custkey",
        F.col("o_orderkey").alias("order_a"),
        "amt_band",
        F.col("day").alias("day_a"),
    )
    b = pay.select(
        "o_custkey",
        F.col("o_orderkey").alias("order_b"),
        F.col("amt_band").alias("band_b"),
        F.col("day").alias("day_b"),
    )
    return (
        a.join(
            b,
            (a["o_custkey"] == b["o_custkey"])
            & (F.col("amt_band") == F.col("band_b")),
        )
        .drop(b["o_custkey"])
        .filter(F.col("order_a") < F.col("order_b"))
        .filter((F.col("day_b") - F.col("day_a")).between(-90, 90))
        .select(
            "o_custkey",
            "order_a",
            "order_b",
            F.col("amt_band").cast("bigint").alias("amt_band"),
            (F.col("day_b") - F.col("day_a")).cast("bigint").alias("days_apart"),
        )
        .orderBy("o_custkey", "order_a", "order_b")
    )


@query(
    "q231_acf_daily_volume",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, day
), stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1
  FROM daily GROUP BY event_type
), den AS (
  SELECT d.event_type,
         CAST(SUM((s.n * d.x - s.s1) * (s.n * d.x - s.s1)) AS BIGINT) AS den
  FROM daily d JOIN stats s USING (event_type)
  GROUP BY d.event_type
), lags AS (
  SELECT * FROM (VALUES (1), (2), (3), (4), (5)) t(k)
), pairs AS (
  SELECT a.event_type, l.k,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM((s.n * a.x - s.s1) * (s.n * b.x - s.s1)) AS BIGINT) AS num
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.k
  JOIN stats s ON s.event_type = a.event_type
  GROUP BY a.event_type, l.k
)
SELECT p.event_type, CAST(p.k AS INT) AS lag_days, p.n_pairs,
       round(CAST(p.num AS DOUBLE) / d.den, 6) AS acf_r
FROM pairs p JOIN den d USING (event_type)
ORDER BY event_type, lag_days
""",
    tags=("monitoring", "timeseries"),
)
def q231_acf_daily_volume(spark, sf_dir):
    """Autocorrelation function (lags 1-5) of each event type's daily
    volume series — the seasonality probe behind "does this metric have
    a weekly pulse?". The corpus collapses to a (type x day) count
    summary first (one map-side-combined shuffle); every later step
    touches only that summary. ACF_k is the standard mean-centered
    estimator; to keep it engine-exact the deviations are scaled by n
    (n*x_t - s1 is an exact BIGINT since the n^2 factors cancel in the
    ratio), so numerator and denominator are exact integer sums and the
    only float op is the final division. Calendar alignment is an
    explicit day+k equi-join on the summary, not a row-lag, so gap days
    never mis-pair. At 100 TB: the summary is (types x days) rows —
    KBs — regardless of log size."""
    ev = table(spark, sf_dir, "events")
    # daily feeds four branches (stats, den, both pair sides); checkpoint
    # the (type x day) summary so the log scan+groupBy doesn't replan per
    # branch (5 duplicated scans without it).
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
    )
    dev = F.col("n") * F.col("x") - F.col("s1")
    den = (
        daily.join(stats, "event_type")
        .groupBy("event_type")
        .agg(F.sum(dev * dev).cast("bigint").alias("den"))
    )
    lags = spark.range(1, 6).select(F.col("id").cast("int").alias("k"))
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("x").alias("xa")
    )
    b = daily.select(
        "event_type", F.col("day").alias("day_b"), F.col("x").alias("xb")
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b.withColumnRenamed("event_type", "et_b"),
            (F.col("et_b") == F.col("event_type"))
            & (F.col("day_b") == F.expr("date_add(day_a, k)")),
        )
        .join(stats, "event_type")
        .groupBy("event_type", "k")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(
                (F.col("n") * F.col("xa") - F.col("s1"))
                * (F.col("n") * F.col("xb") - F.col("s1"))
            )
            .cast("bigint")
            .alias("num"),
        )
    )
    return (
        pairs.join(den, "event_type")
        .select(
            "event_type",
            F.col("k").alias("lag_days"),
            "n_pairs",
            F.round(F.col("num") / F.col("den"), 6).alias("acf_r"),
        )
        .orderBy("event_type", "lag_days")
    )


@query(
    "q232_rolling_correlation",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY day
), roll AS (
  SELECT day,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT day, n AS n_days,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_r
FROM roll WHERE n = 14
ORDER BY day
""",
    tags=("monitoring", "timeseries", "window"),
)
def q232_rolling_correlation(spark, sf_dir):
    """Trailing 14-observation Pearson correlation between the daily
    purchase and click volumes — the "did these two metrics decouple?"
    drift monitor. Summary-first: one groupBy collapses the log to one
    row per day with two integer counts; the rolling frame then runs
    over that summary, so the window sort touches days, not events. All
    six frame sums are exact BIGINTs and Pearson r is one closed-form
    double expression per row (the q168/q170 engine-stability recipe
    applied to a bivariate rolling frame). The single-partition window
    over the day summary is gated by construction — days-per-year
    cardinality; partition by month/metric-group if the spine ever got
    large."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("x"),
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("bigint")
        .alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    roll = daily.select(
        "day",
        F.count("*").over(w).cast("bigint").alias("n"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        roll.filter(F.col("n") == 14)
        .select(
            "day",
            F.col("n").alias("n_days"),
            F.round(num / F.sqrt(vx * vy), 6).alias("corr_r"),
        )
        .orderBy("day")
    )


@query(
    "q233_mann_whitney_u",
    oracle="""
WITH pts AS (
  SELECT CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
), vals AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(grp) AS BIGINT) AS t1
  FROM pts GROUP BY v
), ranked AS (
  SELECT v, t, t1,
         CAST(COALESCE(SUM(t) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM vals
), agg AS (
  SELECT CAST(SUM(t1) AS BIGINT) AS n1,
         CAST(SUM(t - t1) AS BIGINT) AS n2,
         CAST(SUM(t1 * (2 * cum_before + t + 1)) AS BIGINT) AS r1_x2,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
  FROM ranked
)
SELECT n1, n2,
       CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS BIGINT) AS u1_x2,
       round((CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS DOUBLE) / 2.0
              - CAST(n1 AS DOUBLE) * n2 / 2.0)
             / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                    * (CAST(n1 + n2 + 1 AS DOUBLE)
                       - CAST(tie_sum AS DOUBLE)
                         / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))),
             6) AS z_r
FROM agg
""",
    tags=("monitoring", "stats"),
)
def q233_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U rank test: do purchase and click event values come
    from the same distribution? The nonparametric sibling of q219's
    z-test — no normality assumption, so it's the robust A/B gate for
    skewed revenue-like metrics. Ranks never materialize per row:
    values collapse to a (value -> count, group-1 count) summary (one
    map-side-combined shuffle), a running count over the sorted summary
    yields each value's doubled average rank (2*cum + t + 1, an exact
    integer that absorbs the .5 tie ranks), and U, the tie correction
    sum(t^3 - t), and the z-score all come from exact BIGINT sums with
    floats only in the final expression. The ordered window runs over
    distinct values, not rows — at 100 TB that's the cents-cardinality
    of the metric, and the doubled-rank trick keeps everything integer.
    BIGINT bounds: n1*n2 overflows past ~3e9 rows per side; switch the
    final expression to DECIMAL(38) sums at that point."""
    ev = table(spark, sf_dir, "events")
    pts = ev.filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    ).select(
        money("value").alias("v"),
        (F.col("event_type") == "purchase").cast("bigint").alias("grp"),
    )
    vals = pts.groupBy("v").agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum("grp").cast("bigint").alias("t1"),
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "t",
        "t1",
        F.coalesce(F.sum("t").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    agg = ranked.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("bigint").alias("n2"),
        F.sum(
            F.col("t1") * (2 * F.col("cum_before") + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1_x2 = 2 * n1 * n2 + n1 * (n1 + 1) - F.col("r1_x2")
    mean_diff = u1_x2.cast("double") / 2.0 - n1.cast("double") * n2 / 2.0
    var = (n1.cast("double") * n2 / 12.0) * (
        (n1 + n2 + 1).cast("double")
        - F.col("tie_sum").cast("double")
        / ((n1 + n2).cast("double") * (n1 + n2 - 1))
    )
    return agg.select(
        "n1",
        "n2",
        u1_x2.cast("bigint").alias("u1_x2"),
        F.round(mean_diff / F.sqrt(var), 6).alias("z_r"),
    )


@query(
    "q259_cuped_adjustment",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('cuped|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS variant,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                        AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS pre_cents,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                        AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS post_cents
  FROM events GROUP BY user_id
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pre_cents) AS BIGINT) AS sp,
         CAST(SUM(post_cents) AS BIGINT) AS sy,
         CAST(SUM(pre_cents * pre_cents) AS BIGINT) AS spp,
         CAST(SUM(pre_cents * post_cents) AS BIGINT) AS spy
  FROM per_user
), theta AS (
  SELECT n, sp,
         (CAST(n AS DOUBLE) * spy - CAST(sp AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * spp - CAST(sp AS DOUBLE) * sp) AS th
  FROM m
)
SELECT p.variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(CAST(SUM(p.post_cents) AS DOUBLE) / COUNT(*) / 100.0, 6)
         AS mean_post_r,
       round((CAST(SUM(p.post_cents) AS DOUBLE)
              - t.th * (CAST(SUM(p.pre_cents) AS DOUBLE)
                        - CAST(COUNT(*) AS DOUBLE) * t.sp / t.n))
             / COUNT(*) / 100.0, 6) AS mean_cuped_r,
       round(t.th, 6) AS theta_r
FROM per_user p, theta t
GROUP BY p.variant, t.th, t.sp, t.n
ORDER BY p.variant
""",
    tags=("monitoring", "experimentation"),
)
def q259_cuped_adjustment(spark, sf_dir):
    """CUPED variance-reduced experiment readout (Deng et al. 2013, the
    industry-standard A/B sensitivity boost): per-user pre-period spend
    is the covariate, theta = cov(pre, post)/var(pre) fits GLOBALLY
    (pooled across variants, as prescribed — fitting per-arm biases the
    estimate), and each arm reports its raw and CUPED-adjusted mean.
    The md5 variant split reuses q219's deterministic assignment. All
    moments are exact BIGINT sums off ONE user-keyed aggregate of the
    log; theta and the adjusted means are closed-form doubles over
    those integers (the q258 recipe), so the whole readout is
    engine-exact with two shuffles (user, then variant) regardless of
    log size."""
    ev = table(spark, sf_dir, "events")
    cents = money("value")
    is_pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    is_purchase = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(is_purchase & is_pre, cents).otherwise(0))
        .cast("bigint")
        .alias("pre_cents"),
        F.sum(F.when(is_purchase & ~is_pre, cents).otherwise(0))
        .cast("bigint")
        .alias("post_cents"),
    ).select(
        (md5_bits(F.concat(F.lit("cuped|"), F.col("user_id").cast("string")), 8) % 2)
        .cast("int")
        .alias("variant"),
        "pre_cents",
        "post_cents",
    ).localCheckpoint(eager=False)
    p, y = F.col("pre_cents"), F.col("post_cents")
    m = per_user.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(p).cast("bigint").alias("sp"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(p * p).cast("bigint").alias("spp"),
        F.sum(p * y).cast("bigint").alias("spy"),
    )
    nd = F.col("n").cast("double")
    th = (nd * F.col("spy") - F.col("sp").cast("double") * F.col("sy")) / (
        nd * F.col("spp") - F.col("sp").cast("double") * F.col("sp")
    )
    theta = m.select("n", "sp", th.alias("th"))
    grouped = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("post_cents").cast("bigint").alias("s_post"),
        F.sum("pre_cents").cast("bigint").alias("s_pre"),
    )
    return (
        grouped.crossJoin(F.broadcast(theta))
        .select(
            "variant",
            "n_users",
            F.round(
                F.col("s_post").cast("double") / F.col("n_users") / 100.0, 6
            ).alias("mean_post_r"),
            F.round(
                (
                    F.col("s_post").cast("double")
                    - F.col("th")
                    * (
                        F.col("s_pre").cast("double")
                        - F.col("n_users").cast("double")
                        * F.col("sp")
                        / F.col("n")
                    )
                )
                / F.col("n_users")
                / 100.0,
                6,
            ).alias("mean_cuped_r"),
            F.round(F.col("th"), 6).alias("theta_r"),
        )
        .orderBy("variant")
    )


@query(
    "q272_anova_oneway",
    oracle="""
WITH g AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)
                  * CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT) AS s2
  FROM orders GROUP BY grp
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(s1) AS BIGINT) AS s1_all,
         CAST(SUM(s2) AS BIGINT) AS s2_all,
         CAST(SUM(CAST(ROUND(CAST(s1 AS DOUBLE) * s1 / n, 0)
                       AS BIGINT)) AS BIGINT) AS ssb_raw
  FROM g
)
SELECT k AS n_groups, n_all,
       round((CAST(ssb_raw AS DOUBLE)
              - CAST(s1_all AS DOUBLE) * s1_all / n_all) / (k - 1), 6)
         AS msb_r,
       round((CAST(s2_all AS DOUBLE) - CAST(ssb_raw AS DOUBLE))
             / (n_all - k), 6) AS msw_r,
       round(((CAST(ssb_raw AS DOUBLE)
               - CAST(s1_all AS DOUBLE) * s1_all / n_all) / (k - 1))
             / ((CAST(s2_all AS DOUBLE) - CAST(ssb_raw AS DOUBLE))
                / (n_all - k)), 6) AS f_r
FROM tot
""",
    tags=("monitoring", "stats"),
)
def q272_anova_oneway(spark, sf_dir):
    """One-way ANOVA F-test: does mean order value differ across
    priorities? Completes the hypothesis-test battery (z, t-analog
    CUPED, Mann-Whitney, chi-square, KS) with the k-group mean
    comparison. Per-group n/sum/sum-of-squares are exact BIGINTs from
    one map-side-combined aggregate; the only non-integer intermediate
    is each group's s1²/n (a rational), which is fixed-pointed to
    whole units per group BEFORE the cross-group sum — the one place a
    naive implementation sums engine-ordered doubles — so
    SSB/SSW/F evaluate as identical arithmetic in both engines.
    Whole-dollar rounding keeps s2 inside BIGINT at this row count
    (cents² would overflow ~100x sooner). Five summary rows do all
    the statistics; the corpus is touched once."""
    o = table(spark, sf_dir, "orders")
    y = F.round(F.col("o_totalprice"), 0).cast("bigint")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("s1"),
        F.sum(y * y).cast("bigint").alias("s2"),
    )
    # s1^2/n fixed-points to WHOLE units, not micro: group dollar sums
    # are ~1e9, so s1^2/n is ~1e15 and a 1e6 scale would overflow
    # BIGINT; unit precision (+-0.5 per group) is 12 orders below SSB
    ssb_term = F.round(
        F.col("s1").cast("double") * F.col("s1") / F.col("n"), 0
    ).cast("bigint")
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s1").cast("bigint").alias("s1_all"),
        F.sum("s2").cast("bigint").alias("s2_all"),
        F.sum(ssb_term).cast("bigint").alias("ssb_raw"),
    )
    ssb = (
        F.col("ssb_raw").cast("double")
        - F.col("s1_all").cast("double") * F.col("s1_all") / F.col("n_all")
    )
    ssw = F.col("s2_all").cast("double") - F.col("ssb_raw").cast("double")
    msb = ssb / (F.col("k") - 1)
    msw = ssw / (F.col("n_all") - F.col("k"))
    return tot.select(
        F.col("k").alias("n_groups"),
        "n_all",
        F.round(msb, 6).alias("msb_r"),
        F.round(msw, 6).alias("msw_r"),
        F.round(msb / msw, 6).alias("f_r"),
    )


@query(
    "q273_mann_kendall_trend",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, day
), pairs AS (
  SELECT a.event_type,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END)
              AS BIGINT) AS s
  FROM daily a
  JOIN daily b ON b.event_type = a.event_type AND b.day > a.day
  GROUP BY a.event_type
), ties AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
  FROM (
    SELECT event_type, x, CAST(COUNT(*) AS BIGINT) AS t
    FROM daily GROUP BY event_type, x
  ) GROUP BY event_type
)
SELECT p.event_type, t.n AS n_days, p.s,
       round((CASE WHEN p.s > 0 THEN CAST(p.s - 1 AS DOUBLE)
                   WHEN p.s < 0 THEN CAST(p.s + 1 AS DOUBLE)
                   ELSE 0.0 END)
             / sqrt((CAST(t.n AS DOUBLE) * (t.n - 1) * (2 * t.n + 5)
                     - t.tie_sum) / 18.0), 6) AS z_r
FROM pairs p JOIN ties t ON t.event_type = p.event_type
ORDER BY p.event_type
""",
    tags=("monitoring", "stats", "timeseries"),
)
def q273_mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall monotonic-trend test per event type — the
    nonparametric "is this metric drifting?" detector (no linearity or
    normality assumption; robust to the spikes that wreck an OLS slope
    test). S is the exact integer sum of pairwise sign comparisons
    over the DAY SUMMARY — the O(days²) pair join runs on
    calendar-cardinality rows, never the event log — and the
    tie-corrected variance and continuity-adjusted z are closed-form
    doubles over exact BIGINTs (ties grouped on the integer counts
    themselves). Complements q166's CUSUM (localizes a changepoint)
    with the global monotonicity verdict, and q231's ACF (correlation
    structure) with a direction. One corpus shuffle to days; the
    statistics touch (types x days) rows."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("x").alias("xb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("et_b") == F.col("event_type"))
            & (F.col("day_b") > F.col("day_a")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s")
        )
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_sum"),
        )
    )
    nd = F.col("n").cast("double")
    var = (nd * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie_sum")) / 18.0
    num = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double"))
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double"))
        .otherwise(F.lit(0.0))
    )
    return (
        pairs.join(ties, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s",
            F.round(num / F.sqrt(var), 6).alias("z_r"),
        )
        .orderBy("event_type")
    )


@query(
    "q274_theil_sen_slope",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, day
), slopes AS (
  SELECT a.event_type,
         CAST(ROUND(CAST(b.x - a.x AS DOUBLE)
                    / (b.day - a.day) * 1000000.0, 0) AS BIGINT)
           AS slope_micro
  FROM daily a
  JOIN daily b ON b.event_type = a.event_type AND b.day > a.day
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(quantile_cont(slope_micro, 0.5) / 1000000.0, 6)
         AS sen_slope_r
FROM slopes GROUP BY event_type ORDER BY event_type
""",
    tags=("monitoring", "stats", "timeseries"),
)
def q274_theil_sen_slope(spark, sf_dir):
    """Theil-Sen slope — the robust trend MAGNITUDE to q273's
    Mann-Kendall direction verdict: the median of all pairwise slopes
    (Δcount/Δdays) of each type's daily series, unmoved by up to ~29%
    outlier days where an OLS slope would chase a single spike. Pair
    slopes are rationals of exact integers, fixed-pointed to
    micro-units per pair BEFORE the median, so the only cross-engine
    arithmetic is an exact interpolated percentile over BIGINTs (the
    q61 contract). Like q273 the O(days²) pair stream is generated
    from the calendar-sized day summary, never the log — 435 pairs per
    type at a 30-day window, millions even at a decade of daily
    history."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("day_b"),
        F.col("x").alias("xb"),
    )
    slope_micro = money(
        (F.col("xb") - F.col("xa")).cast("double")
        / F.datediff("day_b", "day_a"),
        6,
    )
    slopes = a.join(
        b,
        (F.col("et_b") == F.col("event_type"))
        & (F.col("day_b") > F.col("day_a")),
    ).select("event_type", slope_micro.alias("slope_micro"))
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.percentile("slope_micro", F.lit(0.5)) / 1000000.0, 6
            ).alias("sen_slope_r"),
        )
        .orderBy("event_type")
    )


@query(
    "q275_pinball_loss",
    oracle="""
WITH q AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT), 0.9), 0)
              AS BIGINT) AS q90_cents
  FROM orders GROUP BY grp
), scored AS (
  SELECT o.o_orderpriority AS grp, q.q90_cents,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS y
  FROM orders o JOIN q ON q.grp = o.o_orderpriority
)
SELECT grp, CAST(MIN(q90_cents) AS BIGINT) AS q90_cents,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN y >= q90_cents
                THEN 9 * (y - q90_cents)
                ELSE 1 * (q90_cents - y) END) AS BIGINT)
         AS pinball_decicents,
       round(CAST(SUM(CASE WHEN y >= q90_cents THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS exceed_rate_r
FROM scored GROUP BY grp ORDER BY grp
""",
    tags=("monitoring", "eval", "stats"),
)
def q275_pinball_loss(spark, sf_dir):
    """Quantile-forecast evaluation (pinball / quantile loss at
    tau=0.9): each group's own exact p90 is scored against its data —
    the loss any p90 forecast must beat, and the metric that makes
    quantile predictions comparable at all (MSE rewards the mean, not
    the tail). With tau = 9/10 the loss terms are EXACT integers in
    deci-cents (9*(y-q) above, 1*(q-y) below — the 1/10 factor is
    deferred to the reader), so the aggregate is order-independent
    without any fixed-point rounding; the exceedance rate alongside
    checks calibration (should be ~0.10). One percentile pass + one
    broadcast-join scoring pass; no per-row floats anywhere."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    q = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.round(F.percentile(cents, F.lit(0.9)), 0)
        .cast("bigint")
        .alias("q90_cents")
    )
    scored = o.select(
        F.col("o_orderpriority").alias("grp"), cents.alias("y")
    ).join(F.broadcast(q), "grp")
    above = F.col("y") >= F.col("q90_cents")
    loss = F.when(above, 9 * (F.col("y") - F.col("q90_cents"))).otherwise(
        F.col("q90_cents") - F.col("y")
    )
    return (
        scored.groupBy("grp")
        .agg(
            F.min("q90_cents").cast("bigint").alias("q90_cents"),
            F.count("*").cast("bigint").alias("n"),
            F.sum(loss).cast("bigint").alias("pinball_decicents"),
            F.round(
                F.sum(above.cast("int")).cast("double") / F.count("*"), 6
            ).alias("exceed_rate_r"),
        )
        .orderBy("grp")
    )


@query(
    "q282_delta_method_ratio",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('dm|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS variant,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user GROUP BY variant
)
SELECT variant, n,
       round(CAST(sx AS DOUBLE) / sy / 100.0, 6) AS ratio_r,
       round(sqrt(GREATEST(0.0,
         (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx
          - 2.0 * (CAST(sx AS DOUBLE) / sy)
                * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
            * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         / CAST(n AS DOUBLE) / (n - 1)
         / ((CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n))
         / n)) / 100.0, 6) AS se_r
FROM m ORDER BY variant
""",
    tags=("monitoring", "experimentation"),
)
def q282_delta_method_ratio(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (revenue per
    view) per experiment arm — the statistics every serious A/B
    platform implements, because the naive per-user-average SE is
    simply wrong for ratio-of-sums metrics (users contribute unequal
    denominators, so the ratio is a correlated quotient of two random
    sums). The linearized variance (sigma_x^2 - 2R sigma_xy +
    R^2 sigma_y^2) / ybar^2 / n comes entirely from six exact BIGINT
    user-level moments per arm (one user shuffle + a 2-row summary);
    the GREATEST(0, .) guards the tiny negative values floating-point
    cancellation could produce at near-zero variance. Cents fixed
    point throughout; outputs re-scale to currency units. Completes
    the experimentation battery: q219 proportions, q259 CUPED means,
    q268 funnel steps, this for ratios."""
    ev = table(spark, sf_dir, "events")
    cents = money("value")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("bigint")
        .alias("y"),
    ).select(
        (md5_bits(F.concat(F.lit("dm|"), F.col("user_id").cast("string")), 8) % 2)
        .cast("int")
        .alias("variant"),
        "x",
        "y",
    )
    x, y = F.col("x"), F.col("y")
    m = per_user.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    r = F.col("sx").cast("double") / F.col("sy")
    cxx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    cyy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cxy = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ybar = F.col("sy").cast("double") / nd
    var = (
        F.greatest(
            F.lit(0.0),
            (cxx - 2.0 * r * cxy + r * r * cyy)
            / nd
            / (F.col("n") - 1)
            / (ybar * ybar)
            / nd,
        )
    )
    return m.select(
        "variant",
        "n",
        F.round(r / 100.0, 6).alias("ratio_r"),
        F.round(F.sqrt(var) / 100.0, 6).alias("se_r"),
    ).orderBy("variant")


@query(
    "q304_percentile_bands",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(quantile_cont(v, 0.1) / 100.0, 6) AS p10_r,
       round(quantile_cont(v, 0.5) / 100.0, 6) AS p50_r,
       round(quantile_cont(v, 0.9) / 100.0, 6) AS p90_r
FROM daily GROUP BY day ORDER BY day
""",
    tags=("monitoring", "timeseries"),
)
def q304_percentile_bands(spark, sf_dir):
    """Daily p10/p50/p90 percentile bands of purchase value — the
    latency-chart shape applied to any metric, and the feed behind
    every "shaded band" SLO dashboard: the median tracks the typical
    case while the band width IS the dispersion alarm (a widening band
    with a flat median is the failure mode averages hide completely).
    Exact interpolated percentiles over fixed-point cents, grouped per
    day — one shuffle, with the per-day sort bounded by that day's
    row count. At lake scale this is the query you run on the
    pre-aggregated (day, value-bucket) summary or swap to
    approx_percentile; the band semantics are unchanged."""
    ev = table(spark, sf_dir, "events")
    daily = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("ts").cast("date").alias("day"),
        money("value").alias("v"),
    )
    return (
        daily.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.percentile("v", F.lit(0.1)) / 100.0, 6).alias("p10_r"),
            F.round(F.percentile("v", F.lit(0.5)) / 100.0, 6).alias("p50_r"),
            F.round(F.percentile("v", F.lit(0.9)) / 100.0, 6).alias("p90_r"),
        )
        .orderBy("day")
    )


@query(
    "q306_anomaly_ensemble",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY day
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         round(quantile_cont(x, 0.5), 6) AS med
  FROM daily
), mad AS (
  SELECT round(quantile_cont(abs(d.x - s.med), 0.5), 6) AS mad_v
  FROM daily d CROSS JOIN stats s
), flagged AS (
  SELECT d.day, d.x,
         CASE WHEN abs(CAST(s.n AS DOUBLE) * d.x - s.s1)
                   > 2.5 * sqrt(GREATEST(
                       CAST(s.n AS DOUBLE) * s.s2 - CAST(s.s1 AS DOUBLE)
                       * s.s1, 0.0) / s.n * s.n)
              THEN 1 ELSE 0 END AS z_flag,
         CASE WHEN m.mad_v > 0
                   AND abs(d.x - s.med) > 3.5 * 1.4826 * m.mad_v
              THEN 1 ELSE 0 END AS mad_flag,
         CASE WHEN abs(d.x - lag(d.x) OVER (ORDER BY d.day))
                   > GREATEST(CAST(s.s1 AS DOUBLE) / s.n * 0.3, 1.0)
              THEN 1 ELSE 0 END AS jump_flag
  FROM daily d CROSS JOIN stats s CROSS JOIN mad m
)
SELECT day, x,
       CAST(z_flag AS INT) AS z_flag,
       CAST(mad_flag AS INT) AS mad_flag,
       CAST(COALESCE(jump_flag, 0) AS INT) AS jump_flag,
       CAST(z_flag + mad_flag + COALESCE(jump_flag, 0) AS INT) AS n_votes
FROM flagged
ORDER BY day
""",
    tags=("monitoring", "anomaly"),
)
def q306_anomaly_ensemble(spark, sf_dir):
    """Detector-ensemble anomaly voting: three independent alarms on
    the daily volume series — global z-deviation (cross-multiplied
    exact form), robust MAD distance (outlier-proof), and a
    day-over-day jump detector — each voting per day, with the vote
    count as the alert severity. The operational point: single
    detectors page people at 3am for their own blind spots; requiring
    agreement ("n_votes >= 2") cuts pages an order of magnitude while
    the ensemble table keeps every day's votes for review (this
    fixture's uniform volumes produce zero flags — the all-quiet
    baseline is itself the evidence the thresholds aren't trigger-
    happy). All
    three run off the SAME day summary in one pass — the marginal
    detector costs one more column, not one more scan — composing
    q125/q148/q166's techniques into the alert policy layer."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    stats = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        F.round(F.percentile("x", F.lit(0.5)), 6).alias("med"),
    ).localCheckpoint(eager=False)
    mad = (
        daily.crossJoin(F.broadcast(stats))
        .agg(
            F.round(
                F.percentile(F.abs(F.col("x") - F.col("med")), F.lit(0.5)),
                6,
            ).alias("mad_v")
        )
    )
    nd = F.col("n").cast("double")
    z_flag = (
        F.abs(nd * F.col("x") - F.col("s1"))
        > 2.5
        * F.sqrt(
            F.greatest(
                nd * F.col("s2")
                - F.col("s1").cast("double") * F.col("s1"),
                F.lit(0.0),
            )
            / F.col("n")
            * F.col("n")
        )
    ).cast("int")
    mad_flag = (
        (F.col("mad_v") > 0)
        & (
            F.abs(F.col("x") - F.col("med"))
            > 3.5 * 1.4826 * F.col("mad_v")
        )
    ).cast("int")
    wlag = Window.orderBy("day")
    jump_flag = (
        F.abs(F.col("x") - F.lag("x").over(wlag))
        > F.greatest(
            F.col("s1").cast("double") / F.col("n") * 0.3, F.lit(1.0)
        )
    ).cast("int")
    flagged = (
        daily.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(mad))
        .select(
            "day",
            "x",
            z_flag.alias("z_flag"),
            mad_flag.alias("mad_flag"),
            F.coalesce(jump_flag, F.lit(0)).alias("jump_flag"),
        )
    )
    votes = (
        F.col("z_flag") + F.col("mad_flag") + F.col("jump_flag")
    ).cast("int")
    return (
        flagged.withColumn("n_votes", votes)
        .select(
            "day",
            "x",
            F.col("z_flag").cast("int").alias("z_flag"),
            F.col("mad_flag").cast("int").alias("mad_flag"),
            F.col("jump_flag").cast("int").alias("jump_flag"),
            "n_votes",
        )
        .orderBy("day")
    )


@query(
    "q308_sprt_monitor",
    oracle="""
WITH subj AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day,
         CAST(('0x' || substr(md5('sp|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS arm,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END
              AS INT) AS converted
  FROM events GROUP BY user_id
), llr_terms AS (
  SELECT first_day AS day,
         CAST(SUM(CASE WHEN arm = 1 AND converted = 1
                  THEN 223144 ELSE 0 END)
              + SUM(CASE WHEN arm = 1 AND converted = 0
                    THEN -182322 ELSE 0 END) AS BIGINT) AS llr_micro,
         CAST(SUM(arm) AS BIGINT) AS n_treat
  FROM subj GROUP BY first_day
)
SELECT day,
       CAST(SUM(n_treat) OVER w AS BIGINT) AS n_treat_cum,
       CAST(SUM(llr_micro) OVER w AS BIGINT) AS llr_cum_micro,
       CAST(CASE WHEN SUM(llr_micro) OVER w > 2944439 THEN 1
                 WHEN SUM(llr_micro) OVER w < -2944439 THEN -1
                 ELSE 0 END AS INT) AS decision
FROM llr_terms
WINDOW w AS (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY day
""",
    tags=("monitoring", "experimentation"),
)
def q308_sprt_monitor(spark, sf_dir):
    """Sequential probability ratio test monitor — the always-valid
    "can we stop the experiment yet?" chart that replaces peeking at a
    fixed-horizon p-value (which inflates false positives every time
    someone looks): treated-arm conversions accumulate a
    log-likelihood ratio for H1 (rate 0.5) vs H0 (rate 0.4), and the
    running LLR against Wald's ln((1-b)/a) ≈ +-2.944 boundaries gives
    the earliest decision day. The per-user LLR increments are
    CONSTANT integers (micro-units of ln(0.5/0.4) and ln(0.5/0.6),
    precomputed — no floats accumulate anywhere), so the entire
    monitor is integer window sums over the daily enrollment summary.
    Users enroll at their first event day; the decision column shows
    accept-H1 (+1) / accept-H0 (-1) / continue (0) per day."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    arm = (
        md5_bits(F.concat(F.lit("sp|"), F.col("user_id").cast("string")), 8)
        % 2
    ).cast("int")
    subj = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        )
        .cast("int")
        .alias("converted"),
    ).withColumn("arm", arm)
    # conversions add ln(p1/p0) = ln(0.5/0.4) -> +223144 micro;
    # misses add ln((1-p1)/(1-p0)) = ln(0.5/0.6) -> -182322 micro
    llr = F.when(
        (F.col("arm") == 1) & (F.col("converted") == 1), F.lit(223144)
    ).when(
        (F.col("arm") == 1) & (F.col("converted") == 0), F.lit(-182322)
    ).otherwise(F.lit(0))
    terms = subj.groupBy(F.col("first_day").alias("day")).agg(
        F.sum(llr).cast("bigint").alias("llr_micro"),
        F.sum("arm").cast("bigint").alias("n_treat"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("llr_micro").over(w).cast("bigint")
    return terms.select(
        "day",
        F.sum("n_treat").over(w).cast("bigint").alias("n_treat_cum"),
        cum.alias("llr_cum_micro"),
        F.when(cum > 2944439, 1)
        .when(cum < -2944439, -1)
        .otherwise(0)
        .cast("int")
        .alias("decision"),
    ).orderBy("day")


@query(
    "q311_empirical_bayes_rates",
    oracle="""
WITH seg AS (
  SELECT c_nationkey AS segment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM customer GROUP BY segment
), prior AS (
  SELECT CAST(SUM(k) AS DOUBLE) / SUM(n) AS mu FROM seg
)
SELECT s.segment, s.n, s.k,
       round(CAST(s.k AS DOUBLE) / s.n, 6) AS raw_rate_r,
       round((CAST(s.k AS DOUBLE) + p.mu * 50.0)
             / (s.n + 50.0), 6) AS shrunk_rate_r,
       round(p.mu, 6) AS pooled_rate_r
FROM seg s CROSS JOIN prior p
ORDER BY s.segment
""",
    tags=("monitoring", "stats"),
)
def q311_empirical_bayes_rates(spark, sf_dir):
    """Empirical-Bayes rate shrinkage: each nation segment's
    high-balance rate pulled toward the pooled rate with a
    pseudo-count prior (kappa = 50 — a Beta(mu*50, (1-mu)*50) prior,
    posterior mean (k + mu*kappa)/(n + kappa)) — the fix for the
    universal leaderboard pathology where a 7-customer segment posts a
    "100% rate" and tops every ranking. Raw and shrunken rates sit
    side by side so the shrinkage is auditable per segment (big
    segments barely move, small ones move a lot — that asymmetry IS
    the method). All inputs are exact integer counts and the pooled
    rate is one exact division; a fuller empirical-Bayes fit would
    tune kappa from the between-segment dispersion, but the fixed
    pseudo-count keeps the estimator auditable. One groupBy + a
    broadcast prior row."""
    c = table(spark, sf_dir, "customer")
    seg = c.groupBy(F.col("c_nationkey").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("c_acctbal") > 5000.0).cast("int"))
        .cast("bigint")
        .alias("k"),
    )
    prior = seg.agg(
        (F.sum("k").cast("double") / F.sum("n")).alias("mu")
    )
    kappa = 50.0
    return (
        seg.crossJoin(F.broadcast(prior))
        .select(
            "segment",
            "n",
            "k",
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
                "raw_rate_r"
            ),
            F.round(
                (F.col("k").cast("double") + F.col("mu") * kappa)
                / (F.col("n") + kappa),
                6,
            ).alias("shrunk_rate_r"),
            F.round(F.col("mu"), 6).alias("pooled_rate_r"),
        )
        .orderBy("segment")
    )


@query(
    "q312_seasonal_adjusted_anomaly",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY day, iso_dow
), dows AS (
  SELECT iso_dow,
         CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(x) AS BIGINT) AS sx
  FROM daily GROUP BY iso_dow
), resid AS (
  SELECT d.day, d.x,
         CAST(ROUND(CAST(d.x AS DOUBLE)
                    / (CAST(w.sx AS DOUBLE) / w.nd) * 1000000.0, 0)
              AS BIGINT) AS ratio_micro
  FROM daily d JOIN dows w ON w.iso_dow = d.iso_dow
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(ratio_micro) AS BIGINT) AS s1,
         CAST(SUM(ratio_micro * ratio_micro) AS BIGINT) AS s2
  FROM resid
)
SELECT r.day, r.x,
       round(CAST(r.ratio_micro AS DOUBLE) / 1000000.0, 6) AS ratio_r,
       round((CAST(s.n AS DOUBLE) * r.ratio_micro - s.s1)
             / sqrt(GREATEST(CAST(s.n AS DOUBLE) * s.s2
                             - CAST(s.s1 AS DOUBLE) * s.s1, 1.0)), 6)
         AS adj_z_r
FROM resid r CROSS JOIN stats s
ORDER BY r.day
""",
    tags=("monitoring", "anomaly", "timeseries"),
)
def q312_seasonal_adjusted_anomaly(spark, sf_dir):
    """Seasonally-adjusted anomaly scoring: each day's volume divided
    by its ISO-weekday mean (the q278 index) BEFORE z-scoring, so a
    quiet Sunday doesn't page anyone and a Sunday-sized Tuesday does
    — the deseasonalization step that separates real anomalies from
    the calendar. Ratios are micro-fixed per day (exact integer
    inputs, one double division each), then the z-statistic uses the
    cross-multiplied exact form over those integers — the q125 recipe
    applied to deseasonalized residuals. Two aggregates over the day
    summary; nothing corpus-sized after the first groupBy."""
    ev = table(spark, sf_dir, "events")
    iso = F.when(F.dayofweek(F.col("ts").cast("date")) == 1, 7).otherwise(
        F.dayofweek(F.col("ts").cast("date")) - 1
    ).cast("int")
    daily = (
        ev.groupBy(
            F.col("ts").cast("date").alias("day"), iso.alias("iso_dow")
        )
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    dows = daily.groupBy("iso_dow").agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("x").cast("bigint").alias("sx"),
    )
    resid = daily.join(F.broadcast(dows), "iso_dow").select(
        "day",
        "x",
        money(F.col("x").cast("double") / (F.col("sx").cast("double") / F.col("nd")), 6)
        .alias("ratio_micro"),
    ).localCheckpoint(eager=False)
    stats = resid.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("ratio_micro").cast("bigint").alias("s1"),
        F.sum(F.col("ratio_micro") * F.col("ratio_micro"))
        .cast("bigint")
        .alias("s2"),
    )
    nd = F.col("n").cast("double")
    z = (nd * F.col("ratio_micro") - F.col("s1")) / F.sqrt(
        F.greatest(
            nd * F.col("s2") - F.col("s1").cast("double") * F.col("s1"),
            F.lit(1.0),
        )
    )
    return (
        resid.crossJoin(F.broadcast(stats))
        .select(
            "day",
            "x",
            F.round(
                F.col("ratio_micro").cast("double") / 1e6, 6
            ).alias("ratio_r"),
            F.round(z, 6).alias("adj_z_r"),
        )
        .orderBy("day")
    )


@query(
    "q318_srm_check",
    oracle="""
WITH arms AS (
  SELECT CAST(('0x' || substr(md5('fz|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS variant,
         COUNT(*) AS _dummy
  FROM events GROUP BY user_id,
       CAST(('0x' || substr(md5('fz|' || CAST(user_id AS VARCHAR)),
                            1, 8))::BIGINT % 2 AS INT)
), counts AS (
  SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1
  FROM arms
)
SELECT n0, n1,
       round((CAST(n0 - n1 AS DOUBLE) * (n0 - n1))
             / (n0 + n1), 6) AS chi2_r,
       CAST(CASE WHEN (CAST(n0 - n1 AS DOUBLE) * (n0 - n1))
                      / (n0 + n1) > 3.841 THEN 1 ELSE 0 END AS INT)
         AS srm_flag
FROM counts
""",
    tags=("monitoring", "experimentation"),
)
def q318_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check — the FIRST thing a trustworthy
    experiment platform validates, before anyone reads a treatment
    effect: are the arm sizes consistent with the intended 50/50
    split? The chi-square against equal allocation reduces to
    (n0-n1)²/(n0+n1) — exact integers, one division — and the flag
    fires at the 95% critical value. An SRM means the assignment or
    logging pipeline is dropping users NON-randomly, which silently
    biases every downstream metric; q219/q259/q268/q282 all assume
    this gate passed. Reuses q268's md5 assignment so the arms under
    test are the arms the other readouts use."""
    ev = table(spark, sf_dir, "events")
    variant = (
        md5_bits(F.concat(F.lit("fz|"), F.col("user_id").cast("string")), 8)
        % 2
    ).cast("int")
    arms = ev.select("user_id").distinct().select(variant.alias("variant"))
    counts = arms.agg(
        F.sum((F.col("variant") == 0).cast("int")).cast("bigint").alias("n0"),
        F.sum((F.col("variant") == 1).cast("int")).cast("bigint").alias("n1"),
    )
    chi2 = (
        (F.col("n0") - F.col("n1")).cast("double")
        * (F.col("n0") - F.col("n1"))
        / (F.col("n0") + F.col("n1"))
    )
    return counts.select(
        "n0",
        "n1",
        F.round(chi2, 6).alias("chi2_r"),
        (chi2 > 3.841).cast("int").alias("srm_flag"),
    )


@query(
    "q319_wilson_intervals",
    oracle="""
WITH seg AS (
  SELECT c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM customer GROUP BY segment
)
SELECT segment, n, k,
       round(CAST(k AS DOUBLE) / n, 6) AS rate_r,
       round((CAST(k AS DOUBLE) / n + 3.8416 / (2 * n)
              - 1.96 * sqrt((CAST(k AS DOUBLE) / n
                             * (1.0 - CAST(k AS DOUBLE) / n)
                             + 3.8416 / (4 * n)) / n))
             / (1.0 + 3.8416 / n), 6) AS wilson_lo_r,
       round((CAST(k AS DOUBLE) / n + 3.8416 / (2 * n)
              + 1.96 * sqrt((CAST(k AS DOUBLE) / n
                             * (1.0 - CAST(k AS DOUBLE) / n)
                             + 3.8416 / (4 * n)) / n))
             / (1.0 + 3.8416 / n), 6) AS wilson_hi_r
FROM seg ORDER BY segment
""",
    tags=("monitoring", "stats"),
)
def q319_wilson_intervals(spark, sf_dir):
    """Wilson score intervals for per-segment proportions — the
    proportion CI that behaves at the boundaries where the naive
    Wald interval fails embarrassingly (k=0 gives Wald a [0,0]
    interval; Wilson correctly keeps uncertainty), which is exactly
    the small-segment regime q311's shrinkage also targets: shrinkage
    fixes the point estimate, Wilson fixes the error bars. The closed
    form is deterministic double arithmetic over exact integer (n, k)
    per segment with z²=3.8416 folded in as a literal; one grouped
    aggregate, a constant-width output per segment."""
    c = table(spark, sf_dir, "customer")
    seg = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("c_acctbal") > 5000.0).cast("int"))
        .cast("bigint")
        .alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    z2 = 3.8416
    center = p + z2 / (2 * F.col("n"))
    halfw = 1.96 * F.sqrt((p * (1.0 - p) + z2 / (4 * F.col("n"))) / F.col("n"))
    denom = 1.0 + z2 / F.col("n")
    return seg.select(
        "segment",
        "n",
        "k",
        F.round(p, 6).alias("rate_r"),
        F.round((center - halfw) / denom, 6).alias("wilson_lo_r"),
        F.round((center + halfw) / denom, 6).alias("wilson_hi_r"),
    ).orderBy("segment")


@query(
    "q320_effective_sample_size",
    oracle="""
WITH weights AS (
  SELECT source,
         CAST(ROUND(1000000.0 / (1.0 + CAST(n_chars AS DOUBLE) / 500.0),
                    0) AS BIGINT) AS w_micro
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(SUM(w_micro) AS DOUBLE) * SUM(w_micro)
             / CAST(SUM(w_micro * w_micro) AS DOUBLE), 6) AS ess_r,
       round(CAST(SUM(w_micro) AS DOUBLE) * SUM(w_micro)
             / CAST(SUM(w_micro * w_micro) AS DOUBLE) / COUNT(*), 6)
         AS efficiency_r
FROM weights GROUP BY source ORDER BY source
""",
    tags=("monitoring", "sampling", "stats"),
)
def q320_effective_sample_size(spark, sf_dir):
    """Effective sample size of an importance-weighted corpus — the
    Kish formula ESS = (Σw)²/Σw², the number that tells you whether a
    reweighting scheme (q94's domain mix, q152's DSIR scores, q313's
    IPS weights) has quietly collapsed your million documents onto a
    few heavy rows: efficiency near 1 means weights are benign, near
    1/n means one row dominates and every weighted estimate is noise.
    Weights (an inverse-length scheme here) are micro-fixed per row so
    both sums are exact BIGINTs — the 1e6 scales cancel in the ratio —
    and ESS per source is one grouped aggregate. The mandatory
    companion to ANY weighted pipeline stage."""
    d = table(spark, sf_dir, "documents")
    w = F.round(
        1000000.0 / (1.0 + F.col("n_chars").cast("double") / 500.0), 0
    ).cast("bigint")
    weights = d.select("source", w.alias("w_micro"))
    sw = F.sum("w_micro").cast("double")
    sww = F.sum(F.col("w_micro") * F.col("w_micro")).cast("double")
    return (
        weights.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(sw * F.sum("w_micro") / sww, 6).alias("ess_r"),
            F.round(
                sw * F.sum("w_micro") / sww / F.count("*"), 6
            ).alias("efficiency_r"),
        )
        .orderBy("source")
    )


@query(
    "q323_difference_in_differences",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('did|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS treated,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                        AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS pre_cents,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                        AND event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS post_cents
  FROM events GROUP BY user_id
), arms AS (
  SELECT treated,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(post_cents - pre_cents) AS BIGINT) AS sd,
         CAST(SUM((post_cents - pre_cents) * (post_cents - pre_cents))
              AS BIGINT) AS sdd
  FROM per_user GROUP BY treated
), wide AS (
  SELECT MAX(CASE WHEN treated = 1 THEN n END) AS nt,
         MAX(CASE WHEN treated = 1 THEN sd END) AS sdt,
         MAX(CASE WHEN treated = 1 THEN sdd END) AS sddt,
         MAX(CASE WHEN treated = 0 THEN n END) AS nc,
         MAX(CASE WHEN treated = 0 THEN sd END) AS sdc,
         MAX(CASE WHEN treated = 0 THEN sdd END) AS sddc
  FROM arms
)
SELECT CAST(nt AS BIGINT) AS n_treated, CAST(nc AS BIGINT) AS n_control,
       round((CAST(sdt AS DOUBLE) / nt - CAST(sdc AS DOUBLE) / nc)
             / 100.0, 6) AS did_r,
       round(sqrt(
         (CAST(nt AS DOUBLE) * sddt - CAST(sdt AS DOUBLE) * sdt)
           / nt / (nt - 1) / nt
         + (CAST(nc AS DOUBLE) * sddc - CAST(sdc AS DOUBLE) * sdc)
           / nc / (nc - 1) / nc) / 100.0, 6) AS se_r
FROM wide
""",
    tags=("monitoring", "experimentation", "causal"),
)
def q323_difference_in_differences(spark, sf_dir):
    """Difference-in-differences with user-level differencing: each
    user's post-minus-pre purchase spend is the unit of analysis, so
    the DiD estimate is simply the treated-vs-control mean difference
    of those deltas and its two-sample SE — the panel formulation that
    absorbs every time-invariant user effect by construction (no
    fixed-effects solver needed when you HAVE the panel). Deltas are
    exact integer cents; per-arm n/sum/sum-of-squares are the only
    aggregates; the variance uses the exact cross-multiplied form.
    This is the observational sibling of q259's CUPED (same pre/post
    data, different estimand: CUPED reduces variance of a randomized
    effect, DiD identifies an effect when assignment wasn't random
    but trends were parallel)."""
    ev = table(spark, sf_dir, "events")
    cents = money("value")
    is_pre = F.col("ts").cast("date") < F.lit("2024-01-16").cast("date")
    is_purchase = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(is_purchase & is_pre, cents).otherwise(0))
        .cast("bigint")
        .alias("pre_cents"),
        F.sum(F.when(is_purchase & ~is_pre, cents).otherwise(0))
        .cast("bigint")
        .alias("post_cents"),
    ).select(
        (md5_bits(F.concat(F.lit("did|"), F.col("user_id").cast("string")), 8) % 2)
        .cast("int")
        .alias("treated"),
        (F.col("post_cents") - F.col("pre_cents")).alias("delta"),
    )
    arms = per_user.groupBy("treated").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("delta").cast("bigint").alias("sd"),
        F.sum(F.col("delta") * F.col("delta")).cast("bigint").alias("sdd"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("nt"),
        F.max(F.when(F.col("treated") == 1, F.col("sd"))).alias("sdt"),
        F.max(F.when(F.col("treated") == 1, F.col("sdd"))).alias("sddt"),
        F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("nc"),
        F.max(F.when(F.col("treated") == 0, F.col("sd"))).alias("sdc"),
        F.max(F.when(F.col("treated") == 0, F.col("sdd"))).alias("sddc"),
    )
    nt, nc = F.col("nt").cast("double"), F.col("nc").cast("double")
    var_t = (nt * F.col("sddt") - F.col("sdt").cast("double") * F.col("sdt")) / nt / (
        F.col("nt") - 1
    )
    var_c = (nc * F.col("sddc") - F.col("sdc").cast("double") * F.col("sdc")) / nc / (
        F.col("nc") - 1
    )
    return wide.select(
        F.col("nt").cast("bigint").alias("n_treated"),
        F.col("nc").cast("bigint").alias("n_control"),
        F.round(
            (F.col("sdt").cast("double") / nt - F.col("sdc").cast("double") / nc)
            / 100.0,
            6,
        ).alias("did_r"),
        F.round(F.sqrt(var_t / nt + var_c / nc) / 100.0, 6).alias("se_r"),
    )


_DRIFT_COLS = ("o_totalprice", "o_orderstatus", "o_orderpriority")


@query(
    "q334_profile_drift",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
       CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       CAST(COUNT(DISTINCT CASE WHEN CAST(o_orderdate AS DATE)
                < DATE '1998-01-01' THEN {c} END) AS BIGINT) AS nd_a,
       CAST(COUNT(DISTINCT CASE WHEN CAST(o_orderdate AS DATE)
                >= DATE '1998-01-01' THEN {c} END) AS BIGINT) AS nd_b,
       CAST(SUM(CASE WHEN {c} IS NULL
                 AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS nulls_a,
       CAST(SUM(CASE WHEN {c} IS NULL
                 AND CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                THEN 1 ELSE 0 END) AS BIGINT) AS nulls_b
FROM orders"""
        for c in _DRIFT_COLS
    )
    + "\nORDER BY col_name",
    tags=("monitoring", "profile"),
)
def q334_profile_drift(spark, sf_dir):
    """Column-profile drift between two periods — the schema-health
    diff a pipeline runs on every release boundary: per column, row
    counts, exact distinct cardinalities, and null counts for the
    before/after slices side by side, so a silently-narrowed enum
    (nd_b << nd_a), a null-rate regression, or a cardinality explosion
    surfaces as a one-line diff instead of a downstream model mystery.
    All three columns profile in conditional aggregates over ONE
    orders scan per column-row (q110's single-pass profiler split
    across a time boundary); at lake scale the distinct counts swap to
    the q330 bottom-k sketch with the same report shape."""
    o = table(spark, sf_dir, "orders")
    is_a = F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast(
        "date"
    )
    rows = []
    for c in _DRIFT_COLS:
        rows.append(
            o.agg(
                F.lit(c).alias("col_name"),
                F.sum(is_a.cast("int")).cast("bigint").alias("n_a"),
                F.sum((~is_a).cast("int")).cast("bigint").alias("n_b"),
                F.count_distinct(F.when(is_a, F.col(c)))
                .cast("bigint")
                .alias("nd_a"),
                F.count_distinct(F.when(~is_a, F.col(c)))
                .cast("bigint")
                .alias("nd_b"),
                F.sum((F.col(c).isNull() & is_a).cast("int"))
                .cast("bigint")
                .alias("nulls_a"),
                F.sum((F.col(c).isNull() & ~is_a).cast("int"))
                .cast("bigint")
                .alias("nulls_b"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("col_name")


@query(
    "q337_bunching_audit",
    oracle="""
WITH binned AS (
  SELECT CAST(ROUND(o_totalprice, 0) AS BIGINT) // 1000 AS kbin
  FROM orders
  WHERE o_totalprice >= 90000.0 AND o_totalprice < 110000.0
), counts AS (
  SELECT kbin, CAST(COUNT(*) AS BIGINT) AS c FROM binned GROUP BY kbin
), sides AS (
  SELECT CAST(SUM(CASE WHEN kbin < 100 THEN c ELSE 0 END) AS BIGINT)
           AS below,
         CAST(SUM(CASE WHEN kbin >= 100 THEN c ELSE 0 END) AS BIGINT)
           AS above
  FROM counts
)
SELECT below, above,
       round(CAST(below - above AS DOUBLE)
             / sqrt(CAST(below + above AS DOUBLE)), 6) AS z_r,
       CAST(CASE WHEN abs(CAST(below - above AS DOUBLE)
                          / sqrt(CAST(below + above AS DOUBLE))) > 1.96
            THEN 1 ELSE 0 END AS INT) AS bunching_flag
FROM sides
""",
    tags=("monitoring", "forensics"),
)
def q337_bunching_audit(spark, sf_dir):
    """Threshold-bunching audit (the McCrary density test's discrete
    core): are order totals piling up just BELOW a round 100k
    threshold — the signature of values being manipulated to stay
    under an approval limit, a discount cliff, or a reporting trigger?
    Compare mass in the window just below vs just above; under the
    no-manipulation null the split is symmetric and (below-above)/
    sqrt(n) is a standard normal. Pure integer bin counts (q218's
    Benford forensic cousin, localized to a known policy threshold);
    the window filter pushes to the scan, so the audit reads only the
    rows near the threshold at any scale."""
    o = table(spark, sf_dir, "orders")
    near = o.filter(
        (F.col("o_totalprice") >= 90000.0)
        & (F.col("o_totalprice") < 110000.0)
    )
    below = F.sum(
        (F.round(F.col("o_totalprice"), 0) < 100000).cast("int")
    ).cast("bigint")
    above = F.sum(
        (F.round(F.col("o_totalprice"), 0) >= 100000).cast("int")
    ).cast("bigint")
    sides = near.agg(below.alias("below"), above.alias("above"))
    z = (F.col("below") - F.col("above")).cast("double") / F.sqrt(
        (F.col("below") + F.col("above")).cast("double")
    )
    return sides.select(
        "below",
        "above",
        F.round(z, 6).alias("z_r"),
        (F.abs(z) > 1.96).cast("int").alias("bunching_flag"),
    )


@query(
    "q338_p_chart",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errors
  FROM events GROUP BY day
), center AS (
  SELECT CAST(SUM(errors) AS BIGINT) AS te,
         CAST(SUM(n) AS BIGINT) AS tn
  FROM daily
)
SELECT d.day, d.n, d.errors,
       round(CAST(d.errors AS DOUBLE) / d.n, 6) AS p_r,
       round(CAST(c.te AS DOUBLE) / c.tn, 6) AS pbar_r,
       round(CAST(c.te AS DOUBLE) / c.tn
             + 3.0 * sqrt((CAST(c.te AS DOUBLE) / c.tn)
                          * (1.0 - CAST(c.te AS DOUBLE) / c.tn)
                          / d.n), 6) AS ucl_r,
       CAST(CASE WHEN CAST(d.errors AS DOUBLE) / d.n
                 > CAST(c.te AS DOUBLE) / c.tn
                   + 3.0 * sqrt((CAST(c.te AS DOUBLE) / c.tn)
                                * (1.0 - CAST(c.te AS DOUBLE) / c.tn)
                                / d.n)
            THEN 1 ELSE 0 END AS INT) AS ooc_flag
FROM daily d CROSS JOIN center c
ORDER BY d.day
""",
    tags=("monitoring", "spc"),
)
def q338_p_chart(spark, sf_dir):
    """Shewhart p-chart for the daily error rate — classical SPC
    (statistical process control) joining the monitoring battery:
    each day's error PROPORTION against binomial 3-sigma control
    limits around the pooled center line, with per-day limits that
    correctly WIDEN on low-volume days (the thing a fixed-threshold
    alert gets wrong, paging on quiet-day noise while missing
    busy-day shifts). Exact integer counts in; the center line and
    limits are closed-form doubles from two aggregates over the day
    summary. Where q125's z-scores flag VOLUME anomalies and q166's
    CUSUM localizes a drift, the p-chart governs a RATE with
    volume-aware limits — the third classic chart, completing the
    set."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("bigint")
        .alias("errors"),
    )
    center = daily.agg(
        F.sum("errors").cast("bigint").alias("te"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    pbar = F.col("te").cast("double") / F.col("tn")
    p = F.col("errors").cast("double") / F.col("n")
    ucl = pbar + 3.0 * F.sqrt(pbar * (1.0 - pbar) / F.col("n"))
    return (
        daily.crossJoin(F.broadcast(center))
        .select(
            "day",
            "n",
            "errors",
            F.round(p, 6).alias("p_r"),
            F.round(pbar, 6).alias("pbar_r"),
            F.round(ucl, 6).alias("ucl_r"),
            (p > ucl).cast("int").alias("ooc_flag"),
        )
        .orderBy("day")
    )


@query(
    "q341_cohort_quality_drift",
    oracle="""
WITH cohorts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
), weekly AS (
  SELECT c.user_id,
         CAST(date_trunc('week', c.first_day) AS DATE) AS cohort_week
  FROM cohorts c
), engagement AS (
  SELECT w.cohort_week,
         CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN e.event_type = 'purchase'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
  FROM weekly w JOIN events e ON e.user_id = w.user_id
  GROUP BY w.cohort_week
)
SELECT cohort_week, n_users,
       round(CAST(n_events AS DOUBLE) / n_users, 6) AS events_per_user_r,
       round(CAST(n_purchases AS DOUBLE) / n_users, 6)
         AS purchases_per_user_r,
       round(CAST(n_purchases AS DOUBLE) / n_events, 6)
         AS purchase_share_r
FROM engagement ORDER BY cohort_week
""",
    tags=("monitoring", "growth"),
)
def q341_cohort_quality_drift(spark, sf_dir):
    """Acquisition-cohort quality drift: per signup-week cohort, the
    lifetime engagement intensity (events and purchases per user,
    purchase share) — the early-warning readout that new-user QUALITY
    is sliding even while acquisition VOLUME looks fine (the classic
    paid-growth failure mode: each successive cohort converts worse).
    First-touch cohorting is one min-aggregate; the engagement join
    runs user-keyed against the log and collapses to cohort-week
    rows. Reading across columns separates activity dilution (events
    flat, purchases down) from engagement collapse (both down). Pure
    exact counts until the final ratios."""
    ev = table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.col("ts").cast("date")))
        .cast("date")
        .alias("cohort_week")
    )
    engagement = (
        ev.join(cohorts, "user_id")
        .groupBy("cohort_week")
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").cast("bigint").alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("bigint")
            .alias("n_purchases"),
        )
    )
    return engagement.select(
        "cohort_week",
        "n_users",
        F.round(
            F.col("n_events").cast("double") / F.col("n_users"), 6
        ).alias("events_per_user_r"),
        F.round(
            F.col("n_purchases").cast("double") / F.col("n_users"), 6
        ).alias("purchases_per_user_r"),
        F.round(
            F.col("n_purchases").cast("double") / F.col("n_events"), 6
        ).alias("purchase_share_r"),
    ).orderBy("cohort_week")


@query(
    "a351_levene_test",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS y
  FROM orders
), med AS (
  SELECT grp, CAST(ROUND(2.0 * quantile_cont(y, 0.5), 0) AS BIGINT) AS med2
  FROM base GROUP BY grp
), z AS (
  SELECT b.grp, abs(2 * b.y - m.med2) AS z2
  FROM base b JOIN med m ON m.grp = b.grp
), g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z2) AS BIGINT) AS s1,
         CAST(SUM(z2 * z2) AS BIGINT) AS s2
  FROM z GROUP BY grp
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(s1) AS BIGINT) AS s1_all,
         CAST(SUM(s2) AS BIGINT) AS s2_all,
         CAST(SUM(CAST(ROUND(CAST(s1 AS DOUBLE) * s1 / n, 0)
                       AS BIGINT)) AS BIGINT) AS ssb_raw
  FROM g
)
SELECT k AS n_groups, n_all,
       round(((CAST(ssb_raw AS DOUBLE)
               - CAST(s1_all AS DOUBLE) * s1_all / n_all) / (k - 1))
             / ((CAST(s2_all AS DOUBLE) - CAST(ssb_raw AS DOUBLE))
                / (n_all - k)), 6) AS w_r
FROM tot
""",
    tags=("monitoring", "stats"),
)
def a351_levene_test(spark, sf_dir):
    """Brown-Forsythe (median-centered Levene) test for variance
    homogeneity across order priorities — the diagnostic that must pass
    BEFORE q272's ANOVA mean comparison is trustworthy, and the robust
    variant (median, not mean, centering) that survives heavy tails.
    Integer-exactness trick: group medians of integer dollars are
    either k or k+0.5, so DOUBLED deviations |2y − 2·median| are exact
    BIGINTs, and the W statistic (the ANOVA F computed on deviations)
    is scale-invariant, so running it on 2z changes nothing. From there
    the plan IS q272's: one aggregate for (n, Σz, Σz²) per group, each
    group's s1²/n fixed-pointed before the cross-group sum, five
    summary rows do all the statistics. Two corpus passes (median,
    then deviations) — the unavoidable cost of median centering."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice"), 0).cast("bigint").alias("y"),
    )
    med = base.groupBy("grp").agg(
        F.round(2.0 * F.expr("percentile(y, 0.5)"), 0)
        .cast("bigint")
        .alias("med2")
    )
    z = base.join(med, "grp").select(
        "grp", F.abs(2 * F.col("y") - F.col("med2")).alias("z2")
    )
    g = z.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("z2").cast("bigint").alias("s1"),
        F.sum(F.col("z2") * F.col("z2")).cast("bigint").alias("s2"),
    )
    ssb_term = F.round(
        F.col("s1").cast("double") * F.col("s1") / F.col("n"), 0
    ).cast("bigint")
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s1").cast("bigint").alias("s1_all"),
        F.sum("s2").cast("bigint").alias("s2_all"),
        F.sum(ssb_term).cast("bigint").alias("ssb_raw"),
    )
    ssb = (
        F.col("ssb_raw").cast("double")
        - F.col("s1_all").cast("double") * F.col("s1_all") / F.col("n_all")
    )
    ssw = F.col("s2_all").cast("double") - F.col("ssb_raw").cast("double")
    return tot.select(
        F.col("k").alias("n_groups"),
        "n_all",
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n_all") - F.col("k"))),
            6,
        ).alias("w_r"),
    )


_KAPPA_CENTS = 25_000_000  # $250k in cents: rater A's "high-value" line


@query(
    "a352_cohens_kappa",
    oracle=f"""
WITH rated AS (
  SELECT CASE WHEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                   > {_KAPPA_CENTS} THEN 1 ELSE 0 END AS a,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS b
  FROM orders
), cm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM rated
)
SELECT n, n11, n10, n01, n00,
       round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po_r,
       round((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
              + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
             / (CAST(n AS DOUBLE) * n), 6) AS pe_r,
       round((CAST(n11 + n00 AS DOUBLE) / n
              - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                 + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                / (CAST(n AS DOUBLE) * n))
             / (1.0 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                       + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
                      / (CAST(n AS DOUBLE) * n)), 6) AS kappa_r
FROM cm
""",
    tags=("monitoring", "stats", "labeling"),
)
def a352_cohens_kappa(spark, sf_dir):
    """Cohen's kappa inter-rater agreement — the labeling-QA statistic
    for training-data pipelines (two annotators, or a model judge vs a
    heuristic): chance-corrected agreement κ = (pₒ − pₑ)/(1 − pₑ).
    Raters here are two deterministic binary labelers on the same
    orders (value > $250k vs priority ∈ {{URGENT, HIGH}}). The whole
    2×2 confusion matrix is ONE map-side-combined aggregate of 0/1
    products (no join of rater tables — both labels are projections of
    the same row, the common case for model-vs-heuristic audits);
    pₒ/pₑ/κ evaluate on the 5-integer summary with one rounding each.
    Scales as a single scan at any corpus size."""
    o = table(spark, sf_dir, "orders")
    a = (money("o_totalprice") > _KAPPA_CENTS).cast("int")
    b = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    cm = o.select(a.alias("a"), b.alias("b")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("bigint")
        .alias("n00"),
    )
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00"))
    ) / (F.col("n").cast("double") * F.col("n"))
    return cm.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("po_r"),
        F.round(pe, 6).alias("pe_r"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa_r"),
    )


_PERM_K = 20  # deterministic pseudo-permutations of the label vector


@query(
    "a353_permutation_test",
    oracle=f"""
WITH ev AS (
  SELECT event_id,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS cents,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
  FROM events
  WHERE event_type IN ('click', 'purchase')
), obs AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS na,
         CAST(SUM(1 - is_a) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN is_a = 1 THEN cents ELSE 0 END) AS BIGINT)
           AS sa,
         CAST(SUM(CASE WHEN is_a = 0 THEN cents ELSE 0 END) AS BIGINT)
           AS sb
  FROM ev
), perms AS (
  SELECT k.k, e.cents,
         row_number() OVER (
           PARTITION BY k.k
           ORDER BY md5('perm' || CAST(k.k AS VARCHAR) || '|'
                        || CAST(e.event_id AS VARCHAR)), e.event_id
         ) AS rn
  FROM ev e CROSS JOIN (SELECT unnest(generate_series(0, {_PERM_K} - 1))
                        AS k) k
), pstat AS (
  SELECT p.k,
         CAST(SUM(CASE WHEN p.rn <= o.na THEN p.cents ELSE 0 END)
              AS BIGINT) AS sa_k,
         CAST(SUM(CASE WHEN p.rn > o.na THEN p.cents ELSE 0 END)
              AS BIGINT) AS sb_k
  FROM perms p CROSS JOIN obs o
  GROUP BY p.k
)
SELECT o.na, o.nb,
       round(CAST(o.sa AS DOUBLE) / o.na - CAST(o.sb AS DOUBLE) / o.nb, 6)
         AS obs_diff_r,
       CAST({_PERM_K} AS BIGINT) AS n_perms,
       CAST(SUM(CASE WHEN abs(CAST(p.sa_k AS DOUBLE) / o.na
                              - CAST(p.sb_k AS DOUBLE) / o.nb)
                          >= abs(CAST(o.sa AS DOUBLE) / o.na
                                 - CAST(o.sb AS DOUBLE) / o.nb)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
       round((SUM(CASE WHEN abs(CAST(p.sa_k AS DOUBLE) / o.na
                              - CAST(p.sb_k AS DOUBLE) / o.nb)
                          >= abs(CAST(o.sa AS DOUBLE) / o.na
                                 - CAST(o.sb AS DOUBLE) / o.nb)
                     THEN 1.0 ELSE 0.0 END) + 1.0)
             / ({_PERM_K} + 1.0), 6) AS p_value_r
FROM pstat p CROSS JOIN obs o
GROUP BY o.na, o.nb, o.sa, o.sb
""",
    tags=("monitoring", "stats"),
)
def a353_permutation_test(spark, sf_dir):
    """Distribution-free permutation test for a difference in mean spend
    (click vs purchase events) with DETERMINISTIC pseudo-permutations:
    permutation k relabels rows by ranking them on md5('perm'‖k‖id) and
    handing the first n_A ranks to group A — an exchangeable relabeling
    both engines reproduce bit-for-bit, where a seeded RNG would not
    be portable. Each permutation statistic is a ratio of exact BIGINT
    cent-sums, so the |stat_k| ≥ |observed| comparison is on
    identically-computed doubles. p uses the standard (b+1)/(K+1)
    correction. Plan: one scan for the observed split, one K-way
    replicated rank-and-sum (K×n rows, K=20 — linear, tunable); the
    rank windows are per-permutation partitions, so the shuffle
    parallelizes across permutations."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        money("value").alias("cents"),
        (F.col("event_type") == "click").cast("int").alias("is_a"),
    )
    obs = ev.agg(
        F.sum("is_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("is_a") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("is_a") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
    ).localCheckpoint(eager=False)  # 1 row, referenced by pstat AND the readout
    perms = ev.select(
        "event_id", "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_K - 1))).alias("k"),
    ).select(
        "k", "cents",
        F.row_number()
        .over(
            Window.partitionBy("k").orderBy(
                F.md5(
                    F.concat(
                        F.lit("perm"),
                        F.col("k").cast("string"),
                        F.lit("|"),
                        F.col("event_id").cast("string"),
                    )
                ),
                "event_id",
            )
        )
        .alias("rn"),
    )
    pstat = (
        perms.crossJoin(F.broadcast(obs))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rn") <= F.col("na"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("sa_k"),
            F.sum(F.when(F.col("rn") > F.col("na"), F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("sb_k"),
        )
    )
    joined = pstat.crossJoin(F.broadcast(obs))
    obs_diff = (
        F.col("sa").cast("double") / F.col("na")
        - F.col("sb").cast("double") / F.col("nb")
    )
    perm_diff = (
        F.col("sa_k").cast("double") / F.col("na")
        - F.col("sb_k").cast("double") / F.col("nb")
    )
    extreme = F.when(F.abs(perm_diff) >= F.abs(obs_diff), 1).otherwise(0)
    return (
        joined.groupBy("na", "nb", "sa", "sb")
        .agg(
            F.sum(extreme).cast("bigint").alias("n_extreme_i"),
            F.sum(extreme.cast("double")).alias("n_extreme_d"),
        )
        .select(
            "na", "nb",
            F.round(obs_diff, 6).alias("obs_diff_r"),
            F.lit(_PERM_K).cast("bigint").alias("n_perms"),
            F.col("n_extreme_i").alias("n_extreme"),
            F.round(
                (F.col("n_extreme_d") + 1.0) / (_PERM_K + 1.0), 6
            ).alias("p_value_r"),
        )
    )


@query(
    "a358_binary_segmentation",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT)
           AS rev
  FROM orders GROUP BY day
), pre AS (
  SELECT day, rev,
         CAST(SUM(rev) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s_k,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
         CAST(SUM(rev) OVER () AS BIGINT) AS s_n,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), scored AS (
  SELECT day, k, n, s_k, s_n,
         (CAST(s_k AS DOUBLE) * n - CAST(k AS DOUBLE) * s_n)
         * (CAST(s_k AS DOUBLE) * n - CAST(k AS DOUBLE) * s_n)
         / (CAST(n AS DOUBLE) * k * (n - k)) AS score
  FROM pre WHERE k < n
), best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY score DESC, day) AS rn
    FROM scored)
  WHERE rn = 1
)
SELECT day AS split_day,
       CAST(k AS BIGINT) AS n_left,
       CAST(n - k AS BIGINT) AS n_right,
       round(CAST(s_k AS DOUBLE) / k, 6) AS mean_left_r,
       round(CAST(s_n - s_k AS DOUBLE) / (n - k), 6) AS mean_right_r,
       round(score, 6) AS score_r
FROM best
""",
    tags=("monitoring", "changepoint"),
)
def a358_binary_segmentation(spark, sf_dir):
    """Binary-segmentation change-point: the single split of the daily
    revenue series that maximizes between-segment sum of squares —
    the batch (retrospective, global-argmax) complement of q166's
    sequential CUSUM monitor. The whole search is O(n) on prefix sums:
    G(k) = (S_k·n − k·S_n)² / (n·k·(n−k)), where S_k is an EXACT
    BIGINT prefix sum of whole-dollar revenue, so the only doubles are
    the per-k score (identical arithmetic both engines) and the argmax
    tiebreak is deterministic (score DESC, day ASC). The windows run
    over the DAILY summary (calendar-sized) — the fact table is
    touched once by the grouped aggregate; at 100 TB the summary is
    thousands of rows regardless of corpus size."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.round(F.col("o_totalprice"), 0).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    pre = daily.select(
        "day",
        F.sum("rev").over(wcum).cast("bigint").alias("s_k"),
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        F.sum("rev").over(wall).cast("bigint").alias("s_n"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    u = (
        F.col("s_k").cast("double") * F.col("n")
        - F.col("k").cast("double") * F.col("s_n")
    )
    scored = pre.filter(F.col("k") < F.col("n")).withColumn(
        "score",
        u * u / (F.col("n").cast("double") * F.col("k") * (F.col("n") - F.col("k"))),
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("score").desc(), "day")),
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("day").alias("split_day"),
        F.col("k").alias("n_left"),
        (F.col("n") - F.col("k")).cast("bigint").alias("n_right"),
        F.round(F.col("s_k").cast("double") / F.col("k"), 6).alias(
            "mean_left_r"
        ),
        F.round(
            (F.col("s_n") - F.col("s_k")).cast("double")
            / (F.col("n") - F.col("k")),
            6,
        ).alias("mean_right_r"),
        F.round(F.col("score"), 6).alias("score_r"),
    )


@query(
    "a366_wilcoxon_signed_rank",
    oracle="""
WITH halves AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
                  THEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS early,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                  THEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS late
  FROM orders GROUP BY o_custkey
), paired AS (
  SELECT late - early AS d FROM halves
  WHERE early > 0 AND late > 0 AND late <> early
), rk AS (
  SELECT d,
         CAST(rank() OVER (ORDER BY abs(d)) * 2
              + COUNT(*) OVER (PARTITION BY abs(d)) - 1 AS BIGINT) AS r2
  FROM paired
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2p,
         CAST(SUM(CASE WHEN d < 0 THEN r2 ELSE 0 END) AS BIGINT) AS w2m
  FROM rk
)
SELECT n, w2p AS w_plus_x2, w2m AS w_minus_x2,
       round((CAST(w2p AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)
             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2.0 * n + 1) / 6.0),
             6) AS z_r
FROM sums
""",
    tags=("monitoring", "stats"),
)
def a366_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test — the PAIRED companion to q233's
    Mann-Whitney: did per-customer spend shift between the early and
    late era, judged on within-customer differences so cross-customer
    scale variation cancels. Tie handling reuses a346's doubled-
    average-rank trick (2·avg-rank is an exact BIGINT), so both rank
    sums are exact integers; on the ×2 scale the normal approximation
    becomes z = (W₂⁺ − n(n+1)/2) / √(n(n+1)(2n+1)/6), evaluated once
    in doubles from exact integers (no per-tie variance correction;
    both engines omit it identically). One aggregate pairs the eras,
    one global rank window over the CUSTOMER summary, one moment
    row."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    cut = F.lit("1995-01-01").cast("timestamp")
    halves = o.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("o_orderdate") < cut, cents).otherwise(0))
        .cast("bigint")
        .alias("early"),
        F.sum(F.when(F.col("o_orderdate") >= cut, cents).otherwise(0))
        .cast("bigint")
        .alias("late"),
    )
    paired = halves.filter(
        (F.col("early") > 0)
        & (F.col("late") > 0)
        & (F.col("late") != F.col("early"))
    ).select((F.col("late") - F.col("early")).alias("d"))
    r2 = (
        F.rank().over(Window.orderBy(F.abs("d"))) * 2
        + F.count("*").over(Window.partitionBy(F.abs("d")))
        - 1
    ).cast("bigint")
    rk = paired.select("d", r2.alias("r2"))
    sums = rk.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(0))
        .cast("bigint")
        .alias("w2p"),
        F.sum(F.when(F.col("d") < 0, F.col("r2")).otherwise(0))
        .cast("bigint")
        .alias("w2m"),
    )
    return sums.select(
        "n",
        F.col("w2p").alias("w_plus_x2"),
        F.col("w2m").alias("w_minus_x2"),
        F.round(
            (F.col("w2p").cast("double")
             - F.col("n").cast("double") * (F.col("n") + 1) / 2.0)
            / F.sqrt(
                F.col("n").cast("double")
                * (F.col("n") + 1)
                * (2.0 * F.col("n") + 1)
                / 6.0
            ),
            6,
        ).alias("z_r"),
    )


_CA_CENTS = 15_000_000  # $150k high-value line


@query(
    "a367_cochran_armitage",
    oracle=f"""
WITH g AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                            > {_CA_CENTS} THEN 1 ELSE 0 END) AS BIGINT)
           AS x_i
  FROM orders GROUP BY s
), sums AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(x_i) AS BIGINT) AS x,
         CAST(SUM(s * x_i) AS BIGINT) AS sx,
         CAST(SUM(s * n_i) AS BIGINT) AS sn,
         CAST(SUM(s * s * n_i) AS BIGINT) AS ssn
  FROM g
)
SELECT n, x,
       round((CAST(n AS DOUBLE) * sx - CAST(x AS DOUBLE) * sn)
             / sqrt(CAST(x AS DOUBLE) * (n - x)
                    * (CAST(n AS DOUBLE) * ssn
                       - CAST(sn AS DOUBLE) * sn) / n),
             6) AS z_r
FROM sums
""",
    tags=("monitoring", "stats"),
)
def a367_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test — is the high-value-order PROPORTION
    monotonically associated with the ORDERED priority levels (scores
    1..5 parsed from the priority label)? The ordered-alternative
    complement to q168's unordered chi-square: CA concentrates power
    on the trend instead of spreading it over all deviations. The
    statistic is computed entirely from five exact BIGINT cross-sums
    (N·Σsx − X·Σsn over the variance's matching integer form), so z is
    one double expression over exact integers, identical in both
    engines. One fact-table aggregate, five summary rows, one readout
    row."""
    o = table(spark, sf_dir, "orders")
    hv = (money("o_totalprice") > _CA_CENTS).cast("int")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s")
    ).agg(
        F.count("*").cast("bigint").alias("n_i"),
        F.sum(hv).cast("bigint").alias("x_i"),
    )
    sums = g.agg(
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("x_i").cast("bigint").alias("x"),
        F.sum(F.col("s") * F.col("x_i")).cast("bigint").alias("sx"),
        F.sum(F.col("s") * F.col("n_i")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i"))
        .cast("bigint")
        .alias("ssn"),
    )
    return sums.select(
        "n",
        "x",
        F.round(
            (F.col("n").cast("double") * F.col("sx")
             - F.col("x").cast("double") * F.col("sn"))
            / F.sqrt(
                F.col("x").cast("double")
                * (F.col("n") - F.col("x"))
                * (F.col("n").cast("double") * F.col("ssn")
                   - F.col("sn").cast("double") * F.col("sn"))
                / F.col("n")
            ),
            6,
        ).alias("z_r"),
    )


@query(
    "a377_intraclass_correlation",
    oracle="""
WITH g AS (
  SELECT o_custkey AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT)
           AS s1,
         CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)
                  * CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT)
           AS s2
  FROM orders GROUP BY grp HAVING COUNT(*) >= 2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(s1) AS BIGINT) AS s1_all,
         CAST(SUM(s2) AS BIGINT) AS s2_all,
         CAST(SUM(CAST(ROUND(CAST(s1 AS DOUBLE) * s1 / n, 0)
                       AS BIGINT)) AS BIGINT) AS ssb_raw,
         CAST(SUM(n * n) AS BIGINT) AS nn
  FROM g
), ms AS (
  SELECT k, n_all,
         (CAST(ssb_raw AS DOUBLE)
          - CAST(s1_all AS DOUBLE) * s1_all / n_all) / (k - 1) AS msb,
         (CAST(s2_all AS DOUBLE) - CAST(ssb_raw AS DOUBLE))
           / (n_all - k) AS msw,
         (CAST(n_all AS DOUBLE) - CAST(nn AS DOUBLE) / n_all) / (k - 1)
           AS n0
  FROM tot
)
SELECT k AS n_groups, n_all,
       round(n0, 6) AS n0_r,
       round((msb - msw) / (msb + (n0 - 1.0) * msw), 6) AS icc1_r
FROM ms
""",
    tags=("monitoring", "stats"),
)
def a377_intraclass_correlation(spark, sf_dir):
    """ICC(1) — intraclass correlation of order value within customer:
    how much of order-to-order variance is explained by WHO is
    ordering, the clustering-strength number that decides whether
    cluster-robust errors (q321's jackknife) are needed and drives
    design effects in sampling. Built on the q272 ANOVA machinery
    applied to customer groups (≥2 orders): exact BIGINT group
    moments, per-group s1²/n fixed-pointed before the cross-group
    sum, unbalanced-design group size n₀ = (N − Σn²/N)/(k−1), and
    ICC(1) = (MSB − MSW)/(MSB + (n₀−1)MSW) evaluated once on the
    summary row. One fact aggregate, k-row summary, single readout."""
    o = table(spark, sf_dir, "orders")
    y = F.round(F.col("o_totalprice"), 0).cast("bigint")
    g = (
        o.groupBy(F.col("o_custkey").alias("grp"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(y).cast("bigint").alias("s1"),
            F.sum(y * y).cast("bigint").alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    ssb_term = F.round(
        F.col("s1").cast("double") * F.col("s1") / F.col("n"), 0
    ).cast("bigint")
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s1").cast("bigint").alias("s1_all"),
        F.sum("s2").cast("bigint").alias("s2_all"),
        F.sum(ssb_term).cast("bigint").alias("ssb_raw"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("nn"),
    )
    msb = (
        F.col("ssb_raw").cast("double")
        - F.col("s1_all").cast("double") * F.col("s1_all") / F.col("n_all")
    ) / (F.col("k") - 1)
    msw = (
        F.col("s2_all").cast("double") - F.col("ssb_raw").cast("double")
    ) / (F.col("n_all") - F.col("k"))
    n0 = (
        F.col("n_all").cast("double")
        - F.col("nn").cast("double") / F.col("n_all")
    ) / (F.col("k") - 1)
    return tot.select(
        F.col("k").alias("n_groups"),
        "n_all",
        F.round(n0, 6).alias("n0_r"),
        F.round(
            (msb - msw) / (msb + (n0 - F.lit(1.0)) * msw), 6
        ).alias("icc1_r"),
    )


_XCORR_MAX_LAG = 7


@query(
    "a382_lead_lag_xcorr",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY day
), lagged AS (
  SELECT l.lag, a.x, b.y
  FROM (SELECT unnest(generate_series(0, {_XCORR_MAX_LAG})) AS lag) l
  JOIN daily a ON TRUE
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
), moments AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy
                       - CAST(sy AS DOUBLE) * sy)), 6) AS xcorr_r
FROM moments
ORDER BY lag
""",
    tags=("monitoring", "timeseries"),
)
def a382_lead_lag_xcorr(spark, sf_dir):
    """Lead/lag cross-correlation — at which delay does click volume
    best predict purchase volume? Pearson r between the daily click
    series and the purchase series shifted by 0..{_XCORR_MAX_LAG}
    days: the lag-scan behind attribution windows, marketing-mix
    delays, and pipeline cause→effect tracing (q231's ACF is the
    univariate version; this is the bivariate one). The series are
    DAILY summaries (calendar-sized), so the lag join is a
    summary×summary equi-join on the shifted day, and all moments per
    lag are exact BIGINTs with one closed-form r per lag. The fact
    table is touched once by the daily aggregate."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("bigint")
        .alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=False)  # both sides of the lag join
    lags = spark.range(0, _XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select("day", "x")
    b = daily.select(F.col("day").alias("bday"), "y")
    lagged = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("bday = date_add(day, lag)"))
        .select("lag", "x", "y")
    )
    moments = lagged.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    return moments.select(
        F.col("lag").cast("bigint").alias("lag"),
        "n",
        F.round(
            (F.col("n").cast("double") * F.col("sxy")
             - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(
                    F.col("n").cast("double") * F.col("sxx")
                    - F.col("sx").cast("double") * F.col("sx")
                )
                * F.sqrt(
                    F.col("n").cast("double") * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy")
                )
            ),
            6,
        ).alias("xcorr_r"),
    ).orderBy("lag")


@query(
    "a388_fleiss_kappa",
    oracle="""
WITH rated AS (
  SELECT CAST(CASE WHEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                        > 25000000 THEN 1 ELSE 0 END
            + CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                   THEN 1 ELSE 0 END
            + CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END
         AS BIGINT) AS pos
  FROM orders
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS tot_pos,
         CAST(SUM(pos * pos) AS BIGINT) AS sum_pos2
  FROM rated
), parts AS (
  SELECT n, tot_pos,
         -- per item: sum over categories of n_ij^2 = pos^2 + (3-pos)^2
         --   = 2*pos^2 - 6*pos + 9; P_i = (that - 3)/(3*2)
         CAST(2 * sum_pos2 - 6 * tot_pos + 9 * n AS BIGINT) AS sum_nij2,
         CAST(3 * n AS BIGINT) AS ratings
  FROM agg
)
SELECT n,
       round((CAST(sum_nij2 AS DOUBLE) - ratings) / (CAST(n AS DOUBLE) * 6.0),
             6) AS p_bar_r,
       round((CAST(tot_pos AS DOUBLE) / ratings)
             * (CAST(tot_pos AS DOUBLE) / ratings)
             + (1.0 - CAST(tot_pos AS DOUBLE) / ratings)
             * (1.0 - CAST(tot_pos AS DOUBLE) / ratings), 6) AS p_e_r,
       round(((CAST(sum_nij2 AS DOUBLE) - ratings)
              / (CAST(n AS DOUBLE) * 6.0)
              - ((CAST(tot_pos AS DOUBLE) / ratings)
                 * (CAST(tot_pos AS DOUBLE) / ratings)
                 + (1.0 - CAST(tot_pos AS DOUBLE) / ratings)
                 * (1.0 - CAST(tot_pos AS DOUBLE) / ratings)))
             / (1.0 - ((CAST(tot_pos AS DOUBLE) / ratings)
                       * (CAST(tot_pos AS DOUBLE) / ratings)
                       + (1.0 - CAST(tot_pos AS DOUBLE) / ratings)
                       * (1.0 - CAST(tot_pos AS DOUBLE) / ratings))),
             6) AS fleiss_kappa_r
FROM parts
""",
    tags=("monitoring", "stats", "labeling"),
)
def a388_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa for THREE raters — the multi-annotator agreement
    statistic (a352's Cohen kappa only handles two): three
    deterministic binary labelers (value, priority, status) rate every
    order, per-item agreement P_i comes from Σ n_ij², and with m=3,
    K=2 the whole computation collapses to THREE integer sums
    (n, Σpos, Σpos²) because Σn_ij² = 2·pos² − 6·pos + 9 per item —
    one aggregate pass, closed-form readout, no per-item table
    survives the fold. The labeling-QA number for consensus pipelines
    (3-way model/heuristic/human voting) at any corpus size."""
    o = table(spark, sf_dir, "orders")
    pos = (
        (money("o_totalprice") > 25_000_000).cast("int")
        + F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
        + (F.col("o_orderstatus") == "F").cast("int")
    ).cast("bigint")
    agg = o.select(pos.alias("pos")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("tot_pos"),
        F.sum(F.col("pos") * F.col("pos")).cast("bigint").alias("sum_pos2"),
    )
    parts = agg.select(
        "n",
        "tot_pos",
        (2 * F.col("sum_pos2") - 6 * F.col("tot_pos") + 9 * F.col("n"))
        .cast("bigint")
        .alias("sum_nij2"),
        (3 * F.col("n")).cast("bigint").alias("ratings"),
    )
    p_bar = (F.col("sum_nij2").cast("double") - F.col("ratings")) / (
        F.col("n").cast("double") * 6.0
    )
    p1 = F.col("tot_pos").cast("double") / F.col("ratings")
    p_e = p1 * p1 + (F.lit(1.0) - p1) * (F.lit(1.0) - p1)
    return parts.select(
        "n",
        F.round(p_bar, 6).alias("p_bar_r"),
        F.round(p_e, 6).alias("p_e_r"),
        F.round((p_bar - p_e) / (F.lit(1.0) - p_e), 6).alias(
            "fleiss_kappa_r"
        ),
    )


@query(
    "a396_bimodality_coefficient",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice / 1000.0, 0) AS BIGINT) AS y
  FROM orders
), m AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s1,
         CAST(SUM(y * y) AS BIGINT) AS s2,
         CAST(SUM(y * y * y) AS BIGINT) AS s3,
         CAST(SUM(y * y * y * y) AS BIGINT) AS s4
  FROM base GROUP BY grp
), cm AS (
  SELECT grp, n,
         CAST(s1 AS DOUBLE) / n AS mu,
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
  FROM m
)
SELECT grp, n,
       round(m3 / sqrt(m2 * m2 * m2), 6) AS skew_r,
       round(m4 / (m2 * m2), 6) AS kurt_r,
       round((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2)) + 1.0,
             6) AS g2p1_r,
       round(((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2)) + 1.0)
             / (m4 / (m2 * m2)
                + 3.0 * (CAST(n - 1 AS DOUBLE) * (n - 1))
                  / (CAST(n - 2 AS DOUBLE) * (n - 3))), 6) AS bc_r
FROM cm
ORDER BY grp
""",
    tags=("monitoring", "stats"),
)
def a396_bimodality_coefficient(spark, sf_dir):
    """Sarle's bimodality coefficient — BC = (γ²+1)/(κ + correction):
    the single-pass screen for MIXED distributions (two customer
    populations hiding in one price histogram; BC > 5/9 flags
    bimodality) that q170's raw skew/kurtosis battery feeds but never
    interprets. All four raw power sums are exact BIGINTs from one
    aggregate; central moments and the coefficient evaluate as
    identical double expressions on the 5-row summary. Whole-dollar
    values keep Σy⁴ inside BIGINT at fixture scales (~1e20/1e19 margin
    at sf1; beyond that, shift to q170's scaled-moment form)."""
    o = table(spark, sf_dir, "orders")
    # KILO-dollar units: skew/kurt/BC are scale-invariant, and y^4 on
    # raw dollars overflows BIGINT under ANSI (5.5e5^4 ~ 9e22)
    y = F.round(F.col("o_totalprice") / 1000.0, 0).cast("bigint")
    m = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("s1"),
        F.sum(y * y).cast("bigint").alias("s2"),
        F.sum(y * y * y).cast("bigint").alias("s3"),
        F.sum(y * y * y * y).cast("bigint").alias("s4"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mu * mu
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3.0 * mu * (F.col("s2").cast("double") / F.col("n"))
        + 2.0 * mu * mu * mu
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - 4.0 * mu * (F.col("s3").cast("double") / F.col("n"))
        + 6.0 * mu * mu * (F.col("s2").cast("double") / F.col("n"))
        - 3.0 * mu * mu * mu * mu
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    kurt = m4 / (m2 * m2)
    corr = (
        3.0
        * ((F.col("n") - 1).cast("double") * (F.col("n") - 1))
        / ((F.col("n") - 2).cast("double") * (F.col("n") - 3))
    )
    return m.select(
        "grp",
        "n",
        F.round(skew, 6).alias("skew_r"),
        F.round(kurt, 6).alias("kurt_r"),
        F.round(skew * skew + 1.0, 6).alias("g2p1_r"),
        F.round((skew * skew + 1.0) / (kurt + corr), 6).alias("bc_r"),
    ).orderBy("grp")


@query(
    "a401_fano_dispersion",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY event_type, h
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2,
         CAST(MAX(c) AS BIGINT) AS peak
  FROM hourly GROUP BY event_type
)
SELECT event_type, n_hours, peak,
       round(CAST(s1 AS DOUBLE) / n_hours, 6) AS mean_r,
       round((CAST(s2 AS DOUBLE) / n_hours
              - (CAST(s1 AS DOUBLE) / n_hours)
                * (CAST(s1 AS DOUBLE) / n_hours))
             / (CAST(s1 AS DOUBLE) / n_hours), 6) AS fano_r,
       round(CAST(peak AS DOUBLE) / (CAST(s1 AS DOUBLE) / n_hours), 6)
         AS peak_to_mean_r
FROM m
ORDER BY event_type
""",
    tags=("monitoring", "capacity"),
)
def a401_fano_dispersion(spark, sf_dir):
    """Fano factor (index of dispersion) + peak-to-mean per event type
    over hourly bins — the two capacity numbers q167's inter-event
    burstiness doesn't give: Fano = Var/Mean of COUNTS (1 = Poisson,
    >1 = clustered arrivals that break naive capacity math), and
    peak-to-mean is the provisioning headroom multiplier. Hourly
    counts are one grouped pass; moments are exact BIGINTs over the
    calendar-sized bin table; population variance and both ratios
    evaluate identically on the summary. Feeds a398's M/M/1 readouts
    with the evidence for/against their Poisson assumption."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    m = hourly.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.max("c").cast("bigint").alias("peak"),
    )
    mean = F.col("s1").cast("double") / F.col("n_hours")
    return m.select(
        "event_type",
        "n_hours",
        "peak",
        F.round(mean, 6).alias("mean_r"),
        F.round(
            (F.col("s2").cast("double") / F.col("n_hours") - mean * mean)
            / mean,
            6,
        ).alias("fano_r"),
        F.round(F.col("peak").cast("double") / mean, 6).alias(
            "peak_to_mean_r"
        ),
    ).orderBy("event_type")


# Standard normal quantiles, embedded as exact 6dp literals in BOTH
# plans (no engine has an inverse normal CDF): z_{0.975}, z_{0.80},
# z_{0.90}.
_Z_ALPHA2 = 1.959964
_Z_POW80 = 0.841621
_Z_POW90 = 1.281552


@query(
    "a405_power_analysis",
    oracle=f"""
WITH base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events WHERE event_type IN ('purchase', 'view')
), rate AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS k,
         CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS p
  FROM base
), grid AS (
  SELECT CAST(mde AS DOUBLE) AS mde
  FROM (VALUES (0.01), (0.02), (0.05), (0.10)) t(mde)
)
SELECT g.mde AS mde_abs,
       round(r.p, 6) AS baseline_p_r,
       CAST(ceil(({_Z_ALPHA2} + {_Z_POW80}) * ({_Z_ALPHA2} + {_Z_POW80})
                 * 2.0 * r.p * (1.0 - r.p) / (g.mde * g.mde))
            AS BIGINT) AS n_per_arm_80,
       CAST(ceil(({_Z_ALPHA2} + {_Z_POW90}) * ({_Z_ALPHA2} + {_Z_POW90})
                 * 2.0 * r.p * (1.0 - r.p) / (g.mde * g.mde))
            AS BIGINT) AS n_per_arm_90
FROM grid g CROSS JOIN rate r
ORDER BY mde_abs
""",
    tags=("monitoring", "experimentation"),
)
def a405_power_analysis(spark, sf_dir):
    """A/B sample-size planning table — n per arm =
    (z_{{α/2}}+z_{{power}})²·2p(1−p)/δ² for a grid of absolute MDEs at
    80% and 90% power, seeded by the MEASURED baseline conversion rate
    (purchase|view): the experiment-design step that comes BEFORE every
    readout in the battery (z-test q219, CUPED q259, SRM q318, SPRT
    q308). Normal quantiles are embedded as identical 6dp literals in
    both plans — neither engine has an inverse CDF, and fixed literals
    are exactly the q240 determinism recipe. One aggregate for the
    baseline; the planning grid is constant-sized; ceil on
    identically-computed doubles matches exactly."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    rate = ev.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("k"),
    ).select(
        "n",
        "k",
        (F.col("k").cast("double") / F.col("n")).alias("p"),
    )
    grid = literal_frame(
        spark,
        [(0.01,), (0.02,), (0.05,), (0.10,)], "mde double"
    )

    def n_arm(zb):
        za = F.lit(_Z_ALPHA2)
        return F.ceil(
            (za + F.lit(zb))
            * (za + F.lit(zb))
            * 2.0
            * F.col("p")
            * (F.lit(1.0) - F.col("p"))
            / (F.col("mde") * F.col("mde"))
        ).cast("bigint")

    return (
        grid.crossJoin(F.broadcast(rate))
        .select(
            F.col("mde").alias("mde_abs"),
            F.round(F.col("p"), 6).alias("baseline_p_r"),
            n_arm(_Z_POW80).alias("n_per_arm_80"),
            n_arm(_Z_POW90).alias("n_per_arm_90"),
        )
        .orderBy("mde_abs")
    )


_SLO_TARGET = 0.75  # modeled availability SLO for the error-rate feed


@query(
    "a406_slo_burn_rate",
    oracle=f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS errs
  FROM events GROUP BY day
), windowed AS (
  SELECT day, n, errs,
         CAST(SUM(n) OVER w7 AS BIGINT) AS n7,
         CAST(SUM(errs) OVER w7 AS BIGINT) AS e7,
         CAST(SUM(n) OVER w1 AS BIGINT) AS n1,
         CAST(SUM(errs) OVER w1 AS BIGINT) AS e1
  FROM daily
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         w1 AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND CURRENT ROW)
)
SELECT day, n, errs,
       round(CAST(e1 AS DOUBLE) / n1 / (1.0 - {_SLO_TARGET}), 6)
         AS burn_1d_r,
       round(CAST(e7 AS DOUBLE) / n7 / (1.0 - {_SLO_TARGET}), 6)
         AS burn_7d_r,
       CAST(CASE WHEN CAST(e1 AS DOUBLE) / n1 / (1.0 - {_SLO_TARGET})
                      > 1.0
                  AND CAST(e7 AS DOUBLE) / n7 / (1.0 - {_SLO_TARGET})
                      > 1.0
                 THEN 1 ELSE 0 END AS INT) AS page_alert
FROM windowed
ORDER BY day
""",
    tags=("monitoring", "slo"),
)
def a406_slo_burn_rate(spark, sf_dir):
    """Multi-window SLO burn rate — the SRE error-budget alert: burn =
    observed error rate / budgeted rate (1 − SLO), evaluated over a
    short (1-day) AND a long (7-day) window, paging only when BOTH
    exceed 1× — the standard multi-window construction that suppresses
    both blips (short-only) and stale alerts (long-only). Everything
    runs on the daily summary (calendar-sized windows over exact
    integer counts); the two burn ratios and the alert flag are
    identical expressions in both engines. Completes the ops battery
    around q304's percentile SLO feed and q338's p-chart with the
    budget-consumption view."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("bigint")
        .alias("errs"),
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    burn1 = (
        F.col("errs").cast("double")
        / F.col("n")
        / (1.0 - _SLO_TARGET)
    )
    windowed = daily.select(
        "day",
        "n",
        "errs",
        (
            F.sum("errs").over(w7).cast("double")
            / F.sum("n").over(w7)
            / (1.0 - _SLO_TARGET)
        ).alias("burn7"),
    )
    return windowed.select(
        "day",
        "n",
        "errs",
        F.round(burn1, 6).alias("burn_1d_r"),
        F.round(F.col("burn7"), 6).alias("burn_7d_r"),
        F.when((burn1 > 1.0) & (F.col("burn7") > 1.0), 1)
        .otherwise(0)
        .cast("int")
        .alias("page_alert"),
    ).orderBy("day")


@query(
    "a408_two_way_anova",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS a, o_orderstatus AS b,
         CAST(ROUND(o_totalprice, 0) AS BIGINT) AS y
  FROM orders
), cells AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s1,
         CAST(SUM(y * y) AS BIGINT) AS s2
  FROM base GROUP BY a, b
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(s1) AS BIGINT) AS s1_all,
         CAST(SUM(s2) AS BIGINT) AS s2_all,
         CAST(SUM(CAST(ROUND(CAST(s1 AS DOUBLE) * s1 / n, 0)
                       AS BIGINT)) AS BIGINT) AS ss_cells_raw,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
  FROM cells
), ma AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(sa AS DOUBLE) * sa / na, 0)
                       AS BIGINT)) AS BIGINT) AS ss_a_raw
  FROM (SELECT a, CAST(SUM(s1) AS BIGINT) AS sa,
               CAST(SUM(n) AS BIGINT) AS na FROM cells GROUP BY a)
), mb AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(sb AS DOUBLE) * sb / nb, 0)
                       AS BIGINT)) AS BIGINT) AS ss_b_raw
  FROM (SELECT b, CAST(SUM(s1) AS BIGINT) AS sb,
               CAST(SUM(n) AS BIGINT) AS nb FROM cells GROUP BY b)
)
SELECT t.n_all, t.n_cells,
       round(((CAST(a.ss_a_raw AS DOUBLE)
               - CAST(t.s1_all AS DOUBLE) * t.s1_all / t.n_all)
              / (t.ka - 1))
             / ((CAST(t.s2_all AS DOUBLE) - t.ss_cells_raw)
                / (t.n_all - t.n_cells)), 6) AS f_a_r,
       round(((CAST(b.ss_b_raw AS DOUBLE)
               - CAST(t.s1_all AS DOUBLE) * t.s1_all / t.n_all)
              / (t.kb - 1))
             / ((CAST(t.s2_all AS DOUBLE) - t.ss_cells_raw)
                / (t.n_all - t.n_cells)), 6) AS f_b_r,
       round(((CAST(t.ss_cells_raw AS DOUBLE)
               - a.ss_a_raw - b.ss_b_raw
               + CAST(t.s1_all AS DOUBLE) * t.s1_all / t.n_all)
              / ((t.ka - 1) * (t.kb - 1)))
             / ((CAST(t.s2_all AS DOUBLE) - t.ss_cells_raw)
                / (t.n_all - t.n_cells)), 6) AS f_ab_r
FROM tot t CROSS JOIN ma a CROSS JOIN mb b
""",
    tags=("monitoring", "stats"),
)
def a408_two_way_anova(spark, sf_dir):
    """Two-way ANOVA with interaction (priority × status on order
    value) — the factorial extension of q272: main-effect F's for each
    factor plus the INTERACTION F, the term that says "the priority
    effect depends on status" and that no pair of one-way ANOVAs can
    see. Sums-of-squares come entirely from exact BIGINT cell moments
    (each margin's s²/n fixed-pointed before its cross-group sum, the
    q272 discipline applied at cell, row-margin, and column-margin
    level); SS_AB falls out by subtraction, and all three F ratios
    share the within-cell MSW. On unbalanced cells this classical
    weighted-margin decomposition is non-orthogonal (components need
    not sum to SS_cells) — both engines evaluate the IDENTICAL
    definition, and the balanced-design interpretation applies to the
    near-balanced fixture. One fact aggregate; everything after is
    cell-table-sized."""
    o = table(spark, sf_dir, "orders")
    y = F.round(F.col("o_totalprice"), 0).cast("bigint")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("a"),
        F.col("o_orderstatus").alias("b"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("s1"),
        F.sum(y * y).cast("bigint").alias("s2"),
    ).localCheckpoint(eager=False)  # feeds tot + both margins

    def raw(col, s, n):
        return F.round(
            F.col(s).cast("double") * F.col(s) / F.col(n), 0
        ).cast("bigint")

    tot = cells.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s1").cast("bigint").alias("s1_all"),
        F.sum("s2").cast("bigint").alias("s2_all"),
        F.sum(raw("cells", "s1", "n")).cast("bigint").alias("ss_cells_raw"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.count_distinct("a").cast("bigint").alias("ka"),
        F.count_distinct("b").cast("bigint").alias("kb"),
    )
    ma = (
        cells.groupBy("a")
        .agg(
            F.sum("s1").cast("bigint").alias("sa"),
            F.sum("n").cast("bigint").alias("na"),
        )
        .agg(
            F.sum(raw("ma", "sa", "na")).cast("bigint").alias("ss_a_raw")
        )
    )
    mb = (
        cells.groupBy("b")
        .agg(
            F.sum("s1").cast("bigint").alias("sb"),
            F.sum("n").cast("bigint").alias("nb"),
        )
        .agg(
            F.sum(raw("mb", "sb", "nb")).cast("bigint").alias("ss_b_raw")
        )
    )
    j = tot.crossJoin(F.broadcast(ma)).crossJoin(F.broadcast(mb))
    cf = F.col("s1_all").cast("double") * F.col("s1_all") / F.col("n_all")
    msw = (F.col("s2_all").cast("double") - F.col("ss_cells_raw")) / (
        F.col("n_all") - F.col("n_cells")
    )
    ss_a = F.col("ss_a_raw").cast("double") - cf
    ss_b = F.col("ss_b_raw").cast("double") - cf
    ss_ab = (
        F.col("ss_cells_raw").cast("double")
        - F.col("ss_a_raw")
        - F.col("ss_b_raw")
        + cf
    )
    return j.select(
        "n_all",
        "n_cells",
        F.round((ss_a / (F.col("ka") - 1)) / msw, 6).alias("f_a_r"),
        F.round((ss_b / (F.col("kb") - 1)) / msw, 6).alias("f_b_r"),
        F.round(
            (ss_ab / ((F.col("ka") - 1) * (F.col("kb") - 1))) / msw, 6
        ).alias("f_ab_r"),
    )


@query(
    "a552_kruskal_wallis",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY grp, d
), obs AS (
  SELECT grp, CAST(sc AS DOUBLE) / n AS mean_v FROM daily
), ranked AS (
  SELECT grp, mean_v,
         2 * rank() OVER (ORDER BY mean_v)
           + COUNT(*) OVER (PARTITION BY mean_v) - 1 AS rank2
  FROM obs
), per_grp0 AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(rank2) AS BIGINT) AS rank_sum2
  FROM ranked GROUP BY grp
), per_grp AS (
  SELECT grp, n_obs, rank_sum2,
         CAST(ROUND(CAST(rank_sum2 AS DOUBLE) * rank_sum2
                    / (4.0 * n_obs) * 1e6, 0) AS BIGINT) AS term_micro
  FROM per_grp0
), ties AS (
  SELECT CAST(SUM(tc * tc * tc - tc) AS BIGINT) AS tie3
  FROM (SELECT COUNT(*) AS tc FROM obs GROUP BY mean_v)
), tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS nn,
         CAST(SUM(term_micro) AS BIGINT) AS sum_micro
  FROM per_grp
)
SELECT g.grp, g.n_obs, g.rank_sum2,
       round(CAST(g.rank_sum2 AS DOUBLE) / (2.0 * g.n_obs), 6) AS rbar_r,
       round((12.0 / (t.nn * (t.nn + 1.0)) * (t.sum_micro / 1e6)
              - 3.0 * (t.nn + 1.0))
             / (1.0 - CAST(ti.tie3 AS DOUBLE)
                      / (CAST(t.nn AS DOUBLE) * t.nn * t.nn - t.nn)),
             6) AS h_adj_r
FROM per_grp g CROSS JOIN tot t CROSS JOIN ties ti
ORDER BY g.grp
""",
    tags=("monitoring", "stats"),
)
def a552_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis rank ANOVA across event types — the
    nonparametric k-group location test completing the battery next to
    Mann-Whitney (2 groups), Levene (a351), and two-way ANOVA (a408).
    Summary-first: the raw log folds to per-(type, day) fixed-point
    mean values (one map-side-combined shuffle; the statistical work
    touches ~150 summary rows, never the corpus). Tie-safe average
    ranks use the exact INTEGER doubled-rank identity
    2·r̄ = 2·rank + tie_count − 1, so per-group rank sums are BIGINTs;
    the H statistic folds each group's S²/(4n) term to a rounded micro
    BIGINT before the cross-group sum (order-independent), applies the
    exact integer tie correction 1 − Σ(t³−t)/(N³−N), and evaluates one
    closed-form double expression both engines share bit-for-bit. At
    100 TB only the first aggregate sees the data; everything after is
    calendar-sized."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(
        F.sum(money("value"))
        .cast("bigint")
        .alias("sc"),
        F.count("*").cast("bigint").alias("n"),
    )
    obs = daily.select(
        "grp", (F.col("sc").cast("double") / F.col("n")).alias("mean_v")
    )
    ranked = obs.withColumn(
        "rank2",
        2 * F.rank().over(Window.orderBy("mean_v"))
        + F.count("*").over(Window.partitionBy("mean_v"))
        - 1,
    )
    per_grp = (
        ranked.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum("rank2").cast("bigint").alias("rank_sum2"),
        )
        .withColumn(
            "term_micro",
            money(
                F.col("rank_sum2").cast("double")
                * F.col("rank_sum2")
                / (4.0 * F.col("n_obs")),
                6,
            ),
        )
    )
    ties = (
        obs.groupBy("mean_v")
        .agg(F.count("*").alias("tc"))
        .agg(
            F.sum(
                F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc")
            )
            .cast("bigint")
            .alias("tie3")
        )
    )
    tot = per_grp.agg(
        F.sum("n_obs").cast("bigint").alias("nn"),
        F.sum("term_micro").cast("bigint").alias("sum_micro"),
    )
    h_adj = (
        12.0
        / (F.col("nn") * (F.col("nn") + 1.0))
        * (F.col("sum_micro") / 1e6)
        - 3.0 * (F.col("nn") + 1.0)
    ) / (
        1.0
        - F.col("tie3").cast("double")
        / (
            F.col("nn").cast("double") * F.col("nn") * F.col("nn")
            - F.col("nn")
        )
    )
    return (
        per_grp.join(F.broadcast(tot))
        .join(F.broadcast(ties))
        .select(
            "grp",
            "n_obs",
            "rank_sum2",
            F.round(
                F.col("rank_sum2").cast("double") / (2.0 * F.col("n_obs")), 6
            ).alias("rbar_r"),
            F.round(h_adj, 6).alias("h_adj_r"),
        )
        .orderBy("grp")
    )


# BH step-up thresholds for m = 7 tests, on the chi-square(df=1)-statistic
# scale: p = exp(-stat/2) <= i*alpha/m  <=>  stat >= -2*ln(i*alpha/m).
# Precomputed in Python and embedded as LITERALS in both plans, so no
# engine evaluates ln/exp at runtime (libm results are not guaranteed
# bit-identical across engines; literals are).
_BH_THR = (9.883285, 8.49699, 7.68606, 7.110696, 6.664409, 6.299766, 5.991465)


@query(
    "a553_benjamini_hochberg",
    oracle=f"""
WITH ev AS (
  SELECT isodow(CAST(ts AS DATE)) % 7 + 1 AS dow FROM events
), per_dow AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_events FROM ev GROUP BY dow
), tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS n FROM per_dow
), stats AS (
  SELECT dow, n_events,
         round((n_events - t.n / 7.0) * (n_events - t.n / 7.0)
               / (t.n / 7.0), 6) AS stat_r
  FROM per_dow CROSS JOIN tot t
), ranked AS (
  SELECT dow, n_events, stat_r,
         row_number() OVER (ORDER BY stat_r DESC, dow) AS bh_rank
  FROM stats
), thr AS (
  SELECT *, CAST([{", ".join(str(t) for t in _BH_THR)}][bh_rank]
                 AS DOUBLE) AS thr
  FROM ranked
), cut AS (
  SELECT COALESCE(MAX(CASE WHEN stat_r >= thr THEN bh_rank END), 0) AS istar
  FROM thr
)
SELECT t.dow, t.n_events, t.stat_r, CAST(t.bh_rank AS BIGINT) AS bh_rank,
       t.thr AS thr_r,
       CAST(t.bh_rank <= c.istar AS INT) AS rejected
FROM thr t CROSS JOIN cut c
ORDER BY t.bh_rank
""",
    tags=("monitoring", "stats"),
)
def a553_benjamini_hochberg(spark, sf_dir):
    """Benjamini-Hochberg FDR step-up over a fixed 7-hypothesis family
    (one per day-of-week: is that day's event volume off its uniform
    share?) — the multiple-testing controller every per-segment
    monitoring battery needs before it pages anyone. The per-dow
    chi-square cell statistic (O−E)²/E comes from exact integer counts
    and one closed-form double; the BH comparison runs on the
    STATISTIC scale against thresholds −2·ln(iα/m) precomputed in
    Python and embedded as literals in both plans, so neither engine
    evaluates a transcendental at runtime (cross-engine libm is the
    one nondeterminism this repo's float discipline bans). Step-up
    cutoff i* = max{{i : stat₍ᵢ₎ ≥ thrᵢ}} rides a 1-row aggregate
    broadcast back onto the 7 rows. Everything after the first
    count-by-dow aggregate is constant-size at any sf."""
    ev = table(spark, sf_dir, "events")
    per_dow = ev.select(
        F.dayofweek(F.col("ts").cast("date")).alias("dow")
    ).groupBy("dow").agg(F.count("*").cast("bigint").alias("n_events"))
    tot = per_dow.agg(F.sum("n_events").cast("bigint").alias("n"))
    e = F.col("n") / 7.0
    stats = per_dow.join(F.broadcast(tot)).select(
        "dow",
        "n_events",
        F.round(
            (F.col("n_events") - e) * (F.col("n_events") - e) / e, 6
        ).alias("stat_r"),
    )
    ranked = stats.withColumn(
        "bh_rank",
        F.row_number().over(Window.orderBy(F.col("stat_r").desc(), "dow")),
    ).withColumn(
        "thr", F.element_at(F.lit(list(_BH_THR)), F.col("bh_rank"))
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(F.col("stat_r") >= F.col("thr"), F.col("bh_rank"))
            ),
            F.lit(0),
        ).alias("istar")
    )
    return (
        ranked.join(F.broadcast(cut))
        .select(
            "dow",
            "n_events",
            "stat_r",
            F.col("bh_rank").cast("bigint").alias("bh_rank"),
            F.col("thr").alias("thr_r"),
            (F.col("bh_rank") <= F.col("istar")).cast("int").alias("rejected"),
        )
        .orderBy("bh_rank")
    )


@query(
    "a555_jarque_bera",
    oracle="""
WITH v AS (
  SELECT event_type AS grp, CAST(ROUND(value, 0) AS BIGINT) AS x FROM events
), mom AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         CAST(SUM(x * x * x) AS BIGINT) AS s3,
         CAST(SUM(x * x * x * x) AS BIGINT) AS s4
  FROM v GROUP BY grp
), cm AS (
  SELECT grp, n,
         CAST(s1 AS DOUBLE) / n AS mean,
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
)
SELECT grp, n,
       round(mean, 6) AS mean_r,
       round(m3 / (m2 * sqrt(m2)), 6) AS skew_r,
       round(m4 / (m2 * m2) - 3.0, 6) AS exkurt_r,
       round(n / 6.0 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
             + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0),
             6) AS jb_r
FROM cm
ORDER BY grp
""",
    tags=("monitoring", "stats"),
)
def a555_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality test per event type — the
    moments-based gate (skewness² + excess-kurtosis²/4, scaled by n/6)
    that decides whether a z-score monitor's normal assumption is even
    admissible. q170 computes the same engine-stable moments as SHAPE
    descriptors (per-language doc lengths); this derives the TEST
    STATISTIC from them over event values. One map-side-combined aggregate collects the four raw
    power sums of unit-rounded values as exact BIGINTs (600⁴ · n stays
    under 2⁶³ through sf1); central moments, skewness (m₃/m₂^1.5 with
    m₂·√m₂ — sqrt is IEEE-correctly-rounded, pow() is not), kurtosis,
    and JB evaluate as one closed-form double expression written with
    IDENTICAL structure in both engines, so every intermediate is
    bit-equal and round(·,6) hashes match. The corpus is touched once;
    the statistics run on 5 summary rows."""
    ev = table(spark, sf_dir, "events")
    x = F.round("value", 0).cast("bigint")
    mom = ev.select(
        F.col("event_type").alias("grp"), x.alias("x")
    ).groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("bigint")
        .alias("s4"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - mean * mean
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - 3.0 * mean * (F.col("s2").cast("double") / F.col("n"))
        + 2.0 * mean * mean * mean
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - 4.0 * mean * (F.col("s3").cast("double") / F.col("n"))
        + 6.0 * mean * mean * (F.col("s2").cast("double") / F.col("n"))
        - 3.0 * mean * mean * mean * mean
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - 3.0
    return mom.select(
        "grp",
        "n",
        F.round(mean, 6).alias("mean_r"),
        F.round(skew, 6).alias("skew_r"),
        F.round(exk, 6).alias("exkurt_r"),
        F.round(
            F.col("n") / 6.0 * (skew * skew + exk * exk / 4.0), 6
        ).alias("jb_r"),
    ).orderBy("grp")


@query(
    "a571_runs_test",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
), diffs AS (
  SELECT grp, d, c - lag(c) OVER (PARTITION BY grp ORDER BY d) AS dx
  FROM daily
), signs AS (
  SELECT grp, d, CASE WHEN dx > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE dx IS NOT NULL AND dx <> 0
), runs AS (
  SELECT grp, s,
         CASE WHEN lag(s) OVER (PARTITION BY grp ORDER BY d) IS NULL
                OR lag(s) OVER (PARTITION BY grp ORDER BY d) <> s
              THEN 1 ELSE 0 END AS new_run
  FROM signs
), agg AS (
  SELECT grp,
         CAST(SUM(new_run) AS BIGINT) AS n_runs,
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
  FROM runs GROUP BY grp
)
SELECT grp, n_runs, n_up, n_down,
       round((n_runs - (2.0 * n_up * n_down / (n_up + n_down) + 1.0))
             / sqrt(2.0 * n_up * n_down
                    * (2.0 * n_up * n_down - n_up - n_down)
                    / ((CAST(n_up + n_down AS DOUBLE))
                       * (n_up + n_down) * (n_up + n_down - 1.0))),
             6) AS z_r
FROM agg
ORDER BY grp
""",
    tags=("monitoring", "stats"),
)
def a571_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the up/down sequence of daily event
    counts per type — the randomness check that catches oscillating or
    trending load (too few runs = momentum, too many = ringing) that a
    mean-based monitor can't see. Summary-first: one count aggregate to
    the ~30-day series, a lag window for day-over-day signs (zeros
    dropped, the standard convention), a second lag to count run
    boundaries as exact integers, and the closed-form normal
    approximation z = (R−μ)/σ evaluated once per group from exact
    integer (R, n₊, n₋). Both windows ride the same per-type partition
    — the statistical stages shuffle calendar-sized data only."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("grp").orderBy("d")
    diffs = daily.withColumn("dx", F.col("c") - F.lag("c").over(w))
    signs = diffs.filter(
        F.col("dx").isNotNull() & (F.col("dx") != 0)
    ).select(
        "grp", "d", F.when(F.col("dx") > 0, 1).otherwise(-1).alias("s")
    )
    runs = signs.withColumn(
        "new_run",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("grp").agg(
        F.sum("new_run").cast("bigint").alias("n_runs"),
        F.sum((F.col("s") == 1).cast("int")).cast("bigint").alias("n_up"),
        F.sum((F.col("s") == -1).cast("int")).cast("bigint").alias("n_down"),
    )
    nu, nd = F.col("n_up"), F.col("n_down")
    mu = 2.0 * nu * nd / (nu + nd) + 1.0
    var = (
        2.0
        * nu
        * nd
        * (2.0 * nu * nd - nu - nd)
        / ((nu + nd).cast("double") * (nu + nd) * (nu + nd - 1.0))
    )
    return agg.select(
        "grp",
        "n_runs",
        "n_up",
        "n_down",
        F.round((F.col("n_runs") - mu) / F.sqrt(var), 6).alias("z_r"),
    ).orderBy("grp")


@query(
    "a563_page_hinkley",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS x
  FROM events GROUP BY grp, d
), ordered AS (
  SELECT grp, x,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY d) AS BIGINT)
           AS k,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM daily
), state AS (
  SELECT grp, CAST(0 AS BIGINT) AS k, n,
         CAST(0.0 AS DOUBLE) AS sx, CAST(0.0 AS DOUBLE) AS cum,
         CAST(0.0 AS DOUBLE) AS mn, CAST(0.0 AS DOUBLE) AS ph
  FROM (SELECT DISTINCT grp, n FROM ordered)
  UNION ALL
  SELECT s.grp, s.k + 1, s.n,
         s.sx + o.x,
         s.cum + (o.x - (s.sx + o.x) / (s.k + 1.0) - 5.0),
         LEAST(s.mn, s.cum + (o.x - (s.sx + o.x) / (s.k + 1.0) - 5.0)),
         GREATEST(s.ph,
           (s.cum + (o.x - (s.sx + o.x) / (s.k + 1.0) - 5.0))
           - LEAST(s.mn, s.cum + (o.x - (s.sx + o.x) / (s.k + 1.0) - 5.0)))
  FROM state s JOIN ordered o ON o.grp = s.grp AND o.k = s.k + 1
  WHERE s.k < s.n
)
SELECT grp, CAST(n AS BIGINT) AS n_days,
       round(ph, 6) AS ph_r,
       round(cum, 6) AS cum_r,
       CAST(ph > 50.0 AS INT) AS drift
FROM state WHERE k = n
ORDER BY grp
""",
    tags=("monitoring", "drift"),
)
def a563_page_hinkley(spark, sf_dir):
    """Page-Hinkley upward-drift detector over each event type's daily
    volume — the sequential change monitor that complements CUSUM
    (fixed reference) and binary segmentation (a358, offline): PH
    tracks the cumulative deviation of each observation from the
    RUNNING mean (cum += x − x̄ₜ − δ, δ=5) and alarms when cum rises
    λ=50 above its historical minimum. The running mean makes every
    step depend on the previous state — a coupled recurrence no window
    frame expresses — so the a360 fold discipline applies: one shuffle
    collects each group's ordered daily series, a codegen
    ``aggregate`` lambda folds (k, Σx, cum, min, ph) left-to-right
    with cum' recomputed textually inside the min'/ph' expressions,
    and the oracle runs the IDENTICAL recurrence as a RECURSIVE CTE
    (DuckDB's list_reduce multi-field-struct bug rules out the fold
    twin) — bit-identical doubles, round(·,6) hash-stable. The corpus
    is touched by one count aggregate; the fold sees 30 values per
    group."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").cast("double").alias("x"))
    packed = (
        daily.select("grp", F.struct("d", "x").alias("s"))
        .groupBy("grp")
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")),
                lambda s: s.getField("x"),
            ).alias("series")
        )
    )

    def step(acc, x):
        k1 = acc.getField("k") + F.lit(1).cast("bigint")
        sx1 = acc.getField("sx") + x
        cum1 = acc.getField("cum") + (
            x - (acc.getField("sx") + x) / (acc.getField("k") + 1.0) - 5.0
        )
        mn1 = F.least(
            acc.getField("mn"),
            acc.getField("cum")
            + (
                x
                - (acc.getField("sx") + x) / (acc.getField("k") + 1.0)
                - 5.0
            ),
        )
        ph1 = F.greatest(
            acc.getField("ph"),
            (
                acc.getField("cum")
                + (
                    x
                    - (acc.getField("sx") + x) / (acc.getField("k") + 1.0)
                    - 5.0
                )
            )
            - F.least(
                acc.getField("mn"),
                acc.getField("cum")
                + (
                    x
                    - (acc.getField("sx") + x) / (acc.getField("k") + 1.0)
                    - 5.0
                ),
            ),
        )
        return F.struct(
            k1.alias("k"),
            sx1.alias("sx"),
            cum1.alias("cum"),
            mn1.alias("mn"),
            ph1.alias("ph"),
        )

    init = F.struct(
        F.lit(0).cast("bigint").alias("k"),
        F.lit(0.0).alias("sx"),
        F.lit(0.0).alias("cum"),
        F.lit(0.0).alias("mn"),
        F.lit(0.0).alias("ph"),
    )
    folded = packed.select(
        "grp",
        F.size("series").cast("bigint").alias("n_days"),
        F.aggregate("series", init, step).alias("st"),
    )
    return folded.select(
        "grp",
        "n_days",
        F.round(F.col("st.ph"), 6).alias("ph_r"),
        F.round(F.col("st.cum"), 6).alias("cum_r"),
        (F.col("st.ph") > 50.0).cast("int").alias("drift"),
    ).orderBy("grp")


@query(
    "a411_friedman_test",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type AS grp,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY d, grp
), obs AS (
  SELECT d, grp, CAST(sc AS DOUBLE) / n AS mean_v FROM daily
), ranked AS (
  SELECT d, grp,
         2 * rank() OVER (PARTITION BY d ORDER BY mean_v)
           + COUNT(*) OVER (PARTITION BY d, mean_v) - 1 AS rank2
  FROM obs
), per_grp AS (
  SELECT grp, CAST(SUM(rank2) AS BIGINT) AS rank_sum2,
         CAST(SUM(rank2 * rank2) AS BIGINT) AS rs2_used
  FROM ranked GROUP BY grp
), dims AS (
  SELECT CAST(COUNT(DISTINCT d) AS BIGINT) AS n_blocks,
         CAST(COUNT(DISTINCT grp) AS BIGINT) AS k FROM obs
), chi AS (
  SELECT 12.0 / (d.n_blocks * d.k * (d.k + 1.0))
           * (SELECT SUM(CAST(rank_sum2 AS DOUBLE) * rank_sum2 / 4.0)
              FROM per_grp)
         - 3.0 * d.n_blocks * (d.k + 1.0) AS chi2,
         d.n_blocks, d.k
  FROM dims d
)
SELECT p.grp, p.rank_sum2,
       round(CAST(p.rank_sum2 AS DOUBLE) / (2.0 * c.n_blocks), 6)
         AS mean_rank_r,
       round(c.chi2, 6) AS chi2_r,
       round(c.chi2 / (c.n_blocks * (c.k - 1.0)), 6) AS kendall_w_r
FROM per_grp p CROSS JOIN chi c
ORDER BY p.grp
""",
    tags=("monitoring", "stats"),
)
def a411_friedman_test(spark, sf_dir):
    """Friedman rank test — the repeated-measures ANOVA over complete
    blocks (each day ranks the 5 event types by mean value), closing
    the k-group battery's third cell: Kruskal-Wallis (a106) compares
    independent groups, two-way ANOVA (a408) needs normality, Friedman
    handles the matched-block design. Ranks use the exact
    doubled-rank integer identity within each day, the χ² statistic
    12/(nk(k+1))·ΣRⱼ² − 3n(k+1) comes from exact BIGINT rank sums
    (ΣRⱼ² folds as Σrank2²/4 over a 5-row summary), and Kendall's W =
    χ²/(n(k−1)) falls out as the effect size. The corpus is touched by
    one (day,type) aggregate; everything else is 150 summary rows."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.col("event_type").alias("grp"),
    ).agg(
        F.sum(money("value"))
        .cast("bigint")
        .alias("sc"),
        F.count("*").cast("bigint").alias("n"),
    )
    obs = daily.select(
        "d", "grp", (F.col("sc").cast("double") / F.col("n")).alias("mean_v")
    ).localCheckpoint(eager=False)
    ranked = obs.withColumn(
        "rank2",
        2 * F.rank().over(Window.partitionBy("d").orderBy("mean_v"))
        + F.count("*").over(Window.partitionBy("d", "mean_v"))
        - 1,
    )
    per_grp = ranked.groupBy("grp").agg(
        F.sum("rank2").cast("bigint").alias("rank_sum2")
    )
    dims = obs.agg(
        F.countDistinct("d").cast("bigint").alias("n_blocks"),
        F.countDistinct("grp").cast("bigint").alias("k"),
    )
    ssum = per_grp.agg(
        F.sum(
            F.col("rank_sum2").cast("double") * F.col("rank_sum2") / 4.0
        ).alias("sum_rj2")
    )
    chi = dims.join(F.broadcast(ssum)).select(
        "n_blocks",
        "k",
        (
            12.0
            / (F.col("n_blocks") * F.col("k") * (F.col("k") + 1.0))
            * F.col("sum_rj2")
            - 3.0 * F.col("n_blocks") * (F.col("k") + 1.0)
        ).alias("chi2"),
    )
    return (
        per_grp.join(F.broadcast(chi))
        .select(
            "grp",
            "rank_sum2",
            F.round(
                F.col("rank_sum2").cast("double") / (2.0 * F.col("n_blocks")),
                6,
            ).alias("mean_rank_r"),
            F.round(F.col("chi2"), 6).alias("chi2_r"),
            F.round(
                F.col("chi2") / (F.col("n_blocks") * (F.col("k") - 1.0)), 6
            ).alias("kendall_w_r"),
        )
        .orderBy("grp")
    )


@query(
    "a412_mcnemar_test",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   >= 12 THEN 1 ELSE 0 END AS has_a,
         CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= 12 THEN 1 ELSE 0 END AS has_b
  FROM events GROUP BY user_id
), cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CASE WHEN has_a = 1 AND has_b = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN has_a = 0 AND has_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(SUM(CASE WHEN has_a = 1 AND has_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS both_n
  FROM per_user
)
SELECT n_users, b, c, both_n,
       round(CAST((b - c) * (b - c) AS DOUBLE) / (b + c), 6) AS chi2_r,
       round((abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c), 6)
         AS chi2_cc_r
FROM cells
""",
    tags=("monitoring", "stats"),
)
def a412_mcnemar_test(spark, sf_dir):
    """McNemar's test for paired binary outcomes — heavy-clicker vs
    heavy-purchaser per user (≥12 events of the type: the fixture is
    degenerate at did-X-EVER level — every user does every type, the
    q268 lesson — so the paired booleans use engagement-depth
    thresholds sitting at the per-user mean, which yields nonempty
    discordant cells at every sf). The within-subject 2×2 test the
    battery lacked: chi-square association assumes independent
    samples; these are the SAME users measured twice, and only the
    discordant cells matter: χ² = (b−c)²/(b+c), plus Edwards'
    continuity-corrected variant. One map-side-combined per-user fold to two booleans, one
    4-integer global cell count, two closed-form doubles — the whole
    test after the first aggregate is one row of integers at any
    scale."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "click").cast("int")) >= 12
        )
        .cast("int")
        .alias("has_a"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 12
        )
        .cast("int")
        .alias("has_b"),
    )
    cells = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(((F.col("has_a") == 1) & (F.col("has_b") == 0)).cast("int"))
        .cast("bigint")
        .alias("b"),
        F.sum(((F.col("has_a") == 0) & (F.col("has_b") == 1)).cast("int"))
        .cast("bigint")
        .alias("c"),
        F.sum(((F.col("has_a") == 1) & (F.col("has_b") == 1)).cast("int"))
        .cast("bigint")
        .alias("both_n"),
    )
    diff = F.col("b") - F.col("c")
    return cells.select(
        "n_users",
        "b",
        "c",
        "both_n",
        F.round(
            (diff * diff).cast("double") / (F.col("b") + F.col("c")), 6
        ).alias("chi2_r"),
        F.round(
            (F.abs(diff) - 1.0)
            * (F.abs(diff) - 1.0)
            / (F.col("b") + F.col("c")),
            6,
        ).alias("chi2_cc_r"),
    )


@query(
    "a413_cramers_v",
    oracle="""
WITH cells AS (
  SELECT event_type AS r, isodow(CAST(ts AS DATE)) % 7 + 1 AS c,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY r, c
), margins AS (
  SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY r
), colm AS (
  SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY c
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT r) AS BIGINT) AS n_r,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS n_c
  FROM cells
), terms AS (
  SELECT CAST(SUM(CAST(ROUND(1000000.0
           * (o - CAST(m.rt AS DOUBLE) * cm.ct / t.n)
           * (o - CAST(m.rt AS DOUBLE) * cm.ct / t.n)
           / (CAST(m.rt AS DOUBLE) * cm.ct / t.n), 0) AS BIGINT))
         AS BIGINT) AS chi2_micro
  FROM cells
  JOIN margins m ON m.r = cells.r
  JOIN colm cm ON cm.c = cells.c
  CROSS JOIN tot t
)
SELECT t.n, t.n_r AS r_levels, t.n_c AS c_levels,
       round(te.chi2_micro / 1e6, 6) AS chi2_r,
       round(sqrt(te.chi2_micro / 1e6
                  / (t.n * (LEAST(t.n_r, t.n_c) - 1.0))), 6)
         AS cramers_v_r
FROM tot t CROSS JOIN terms te
""",
    tags=("monitoring", "stats"),
)
def a413_cramers_v(spark, sf_dir):
    """Cramér's V for the event-type × day-of-week contingency — the
    NORMALIZED association strength ([0,1], comparable across tables)
    that the raw chi-square drift monitors can't give: V =
    √(χ²/(N·(min(r,c)−1))). Each cell's (O−E)²/E term uses exact
    integer margins in one double expression and micro-fixes to a
    BIGINT before the order-independent 35-cell sum (the house rule
    for cross-group float sums); day numbering derives Spark's
    1=Sunday convention on both engines (isodow%7+1 — the q256
    lesson). One count aggregate touches the corpus; margins, total,
    and both statistics are contingency-sized."""
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("r"),
        F.dayofweek(F.col("ts").cast("date")).alias("c"),
    ).agg(F.count("*").cast("bigint").alias("o"))
    margins = cells.groupBy("r").agg(F.sum("o").cast("bigint").alias("rt"))
    colm = cells.groupBy("c").agg(F.sum("o").cast("bigint").alias("ct"))
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("r").cast("bigint").alias("r_levels"),
        F.countDistinct("c").cast("bigint").alias("c_levels"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    terms = (
        cells.join(F.broadcast(margins), "r")
        .join(F.broadcast(colm), "c")
        .join(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    1000000.0 * (F.col("o") - e) * (F.col("o") - e) / e, 0
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("chi2_micro")
        )
    )
    return (
        tot.join(F.broadcast(terms))
        .select(
            "n",
            "r_levels",
            "c_levels",
            F.round(F.col("chi2_micro") / 1e6, 6).alias("chi2_r"),
            F.round(
                F.sqrt(
                    F.col("chi2_micro")
                    / 1e6
                    / (
                        F.col("n")
                        * (F.least("r_levels", "c_levels") - F.lit(1.0))
                    )
                ),
                6,
            ).alias("cramers_v_r"),
        )
    )


_BS_B = 200  # bootstrap replicates (md5-seeded, deterministic)


@query(
    "a414_bootstrap_ci",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY d
), obs AS (
  SELECT row_number() OVER (ORDER BY d) AS i,
         CAST(ROUND(sc * 10000.0 / n, 0) AS BIGINT) AS m
  FROM daily
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM obs
), grid AS (
  SELECT b.b, o.i AS slot
  FROM (SELECT unnest(generate_series(1, {_BS_B})) AS b) b
  CROSS JOIN obs o
), picks AS (
  SELECT g.b,
         ('0x' || substr(md5('bs|' || CAST(g.b AS VARCHAR) || '|'
                             || CAST(g.slot AS VARCHAR)), 1, 15))::BIGINT
           % (SELECT n_days FROM nn) + 1 AS idx
  FROM grid g
), means AS (
  SELECT p.b,
         CAST(ROUND(SUM(o.m) / CAST((SELECT n_days FROM nn) AS DOUBLE), 0)
              AS BIGINT) AS mean_micro
  FROM picks p JOIN obs o ON o.i = p.idx
  GROUP BY p.b
), ranked AS (
  SELECT mean_micro, row_number() OVER (ORDER BY mean_micro, b) AS rk
  FROM means
), point AS (
  SELECT CAST(ROUND(SUM(m) / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
           AS point_micro
  FROM obs
)
SELECT (SELECT n_days FROM nn) AS n_days,
       CAST({_BS_B} AS BIGINT) AS n_replicates,
       round(p.point_micro / 1e6, 6) AS point_r,
       round((SELECT mean_micro FROM ranked WHERE rk = 5) / 1e6, 6)
         AS ci_lo_r,
       round((SELECT mean_micro FROM ranked WHERE rk = {_BS_B - 4}) / 1e6, 6)
         AS ci_hi_r
FROM point p
""",
    tags=("monitoring", "stats"),
)
def a414_bootstrap_ci(spark, sf_dir):
    """Percentile-bootstrap 95% confidence interval for the mean daily
    event value — the distribution-free uncertainty quantifier
    completing the inference battery (a353's permutation test answers
    "is there a difference"; the bootstrap answers "how precise is the
    estimate"), with the SAME determinism trick: resample indices are
    md5-derived from (replicate, slot), so both engines draw the
    IDENTICAL 200 resamples and the CI is exact-value oracled — no
    rand() anywhere. Observations are the ~30 micro-fixed daily means;
    each replicate's mean is an exact integer sum with one rounded
    division; the CI endpoints are rank 5 / rank 196 order statistics
    (2.5%/97.5% of B=200) under a deterministic tiebreak. The corpus
    is touched by one aggregate; the resampling universe is B×days ≈
    6000 tiny rows at any sf."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(
        F.sum(money("value"))
        .cast("bigint")
        .alias("sc"),
        F.count("*").cast("bigint").alias("n"),
    )
    obs = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"),
        F.round(F.col("sc") * 10000.0 / F.col("n"), 0)
        .cast("bigint")
        .alias("m"),
    ).localCheckpoint(eager=False)
    nn = obs.agg(F.count("*").cast("bigint").alias("n_days"))
    bs = spark.range(1, _BS_B + 1).select(F.col("id").alias("b"))
    grid = bs.crossJoin(obs.select(F.col("i").alias("slot"))).join(
        F.broadcast(nn)
    )
    picks = grid.select(
        "b",
        (
            md5_bits(
                F.concat(
                    F.lit("bs|"),
                    F.col("b").cast("string"),
                    F.lit("|"),
                    F.col("slot").cast("string"),
                ),
                15,
            )
            % F.col("n_days")
            + 1
        ).alias("idx"),
        "n_days",
    )
    means = (
        picks.join(obs.withColumnRenamed("i", "idx"), "idx")
        .groupBy("b")
        .agg(
            F.round(
                F.sum("m") / F.first("n_days").cast("double"), 0
            )
            .cast("bigint")
            .alias("mean_micro")
        )
    )
    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_micro", "b"))
    )
    lo = ranked.filter(F.col("rk") == 5).select(
        F.round(F.col("mean_micro") / 1e6, 6).alias("ci_lo_r")
    )
    hi = ranked.filter(F.col("rk") == _BS_B - 4).select(
        F.round(F.col("mean_micro") / 1e6, 6).alias("ci_hi_r")
    )
    point = obs.agg(
        F.round(F.sum("m") / F.count("*").cast("double"), 0)
        .cast("bigint")
        .alias("pm")
    )
    return (
        nn.join(F.broadcast(point))
        .join(F.broadcast(lo))
        .join(F.broadcast(hi))
        .select(
            "n_days",
            F.lit(_BS_B).cast("bigint").alias("n_replicates"),
            F.round(F.col("pm") / 1e6, 6).alias("point_r"),
            "ci_lo_r",
            "ci_hi_r",
        )
    )


@query(
    "a427_western_electric_rules",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS sc,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY grp, d
), obs AS (
  SELECT grp, d, CAST(ROUND(sc * 10000.0 / n, 0) AS BIGINT) AS m
  FROM daily
), base AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(m) AS BIGINT) AS s1, CAST(SUM(m * m) AS BIGINT) AS s2
  FROM obs GROUP BY grp
), z AS (
  SELECT o.grp, o.d,
         (o.m - CAST(b.s1 AS DOUBLE) / b.nd)
           / sqrt(CAST(b.s2 AS DOUBLE) / b.nd
                  - (CAST(b.s1 AS DOUBLE) / b.nd)
                    * (CAST(b.s1 AS DOUBLE) / b.nd)) AS zv
  FROM obs o JOIN base b ON b.grp = o.grp
), flags AS (
  SELECT grp, d,
         CASE WHEN abs(zv) > 3.0 THEN 1 ELSE 0 END AS r1,
         CASE WHEN COUNT(*) OVER w3 = 3
               AND (SUM(CASE WHEN zv > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2
                 OR SUM(CASE WHEN zv < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2)
              THEN 1 ELSE 0 END AS r2,
         CASE WHEN COUNT(*) OVER w5 = 5
               AND (SUM(CASE WHEN zv > 1.0 THEN 1 ELSE 0 END) OVER w5 >= 4
                 OR SUM(CASE WHEN zv < -1.0 THEN 1 ELSE 0 END) OVER w5 >= 4)
              THEN 1 ELSE 0 END AS r3,
         CASE WHEN COUNT(*) OVER w8 = 8
               AND (SUM(CASE WHEN zv > 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
                 OR SUM(CASE WHEN zv < 0.0 THEN 1 ELSE 0 END) OVER w8 = 8)
              THEN 1 ELSE 0 END AS r4
  FROM z
  WINDOW w3 AS (PARTITION BY grp ORDER BY d
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
         w5 AS (PARTITION BY grp ORDER BY d
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w8 AS (PARTITION BY grp ORDER BY d
                ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(r1) AS BIGINT) AS rule1_days,
       CAST(SUM(r2) AS BIGINT) AS rule2_days,
       CAST(SUM(r3) AS BIGINT) AS rule3_days,
       CAST(SUM(r4) AS BIGINT) AS rule4_days,
       CAST(SUM(CASE WHEN r1 + r2 + r3 + r4 > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS any_rule_days
FROM flags
GROUP BY grp
ORDER BY grp
""",
    tags=("monitoring", "spc"),
)
def a427_western_electric_rules(spark, sf_dir):
    """Western Electric control-chart rules over each event type's
    daily mean value — the four classic SPC zone tests (1 beyond 3σ;
    2-of-3 beyond 2σ same side; 4-of-5 beyond 1σ same side; 8
    consecutive same side) that catch shifts a plain 3σ monitor
    misses, upgrading the z-score family (q-series anomaly flags,
    a125 runs test, a117 Page-Hinkley) to the full rule battery an
    SRE chart runs. Daily means micro-fix to BIGINTs; μ/σ come from
    exact Σ/Σ² per group in one closed-form z expression; each rule
    is a COUNT/SUM over a trailing ROWS frame (3/5/8) on the same
    per-type ordering — four frames, one logical sort, flags summed
    per type. Boundary behavior is exact because both engines compare
    the IDENTICAL z doubles against binary-exact limits (3.0/2.0/1.0/
    0.0). Calendar-sized after the first aggregate."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(
        F.sum(money("value"))
        .cast("bigint")
        .alias("sc"),
        F.count("*").cast("bigint").alias("n"),
    )
    obs = daily.select(
        "grp",
        "d",
        F.round(F.col("sc") * 10000.0 / F.col("n"), 0)
        .cast("bigint")
        .alias("m"),
    )
    base = obs.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("nd"),
        F.sum("m").cast("bigint").alias("s1"),
        F.sum(F.col("m") * F.col("m")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("nd")
    z = obs.join(base, "grp").select(
        "grp",
        "d",
        (
            (F.col("m") - mean)
            / F.sqrt(F.col("s2").cast("double") / F.col("nd") - mean * mean)
        ).alias("zv"),
    )
    w3 = Window.partitionBy("grp").orderBy("d").rowsBetween(-2, 0)
    w5 = Window.partitionBy("grp").orderBy("d").rowsBetween(-4, 0)
    w8 = Window.partitionBy("grp").orderBy("d").rowsBetween(-7, 0)

    def side(wf, lim, need, full):
        pos = F.sum((F.col("zv") > lim).cast("int")).over(wf) >= need
        neg = F.sum((F.col("zv") < -lim).cast("int")).over(wf) >= need
        return (
            (F.count("*").over(wf) == full) & (pos | neg)
        ).cast("int")

    flags = z.select(
        "grp",
        (F.abs("zv") > 3.0).cast("int").alias("r1"),
        side(w3, F.lit(2.0), 2, 3).alias("r2"),
        side(w5, F.lit(1.0), 4, 5).alias("r3"),
        (
            (F.count("*").over(w8) == 8)
            & (
                (F.sum((F.col("zv") > 0.0).cast("int")).over(w8) == 8)
                | (F.sum((F.col("zv") < 0.0).cast("int")).over(w8) == 8)
            )
        )
        .cast("int")
        .alias("r4"),
    )
    return (
        flags.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum("r1").cast("bigint").alias("rule1_days"),
            F.sum("r2").cast("bigint").alias("rule2_days"),
            F.sum("r3").cast("bigint").alias("rule3_days"),
            F.sum("r4").cast("bigint").alias("rule4_days"),
            F.sum(
                (
                    F.col("r1") + F.col("r2") + F.col("r3") + F.col("r4") > 0
                ).cast("int")
            )
            .cast("bigint")
            .alias("any_rule_days"),
        )
        .orderBy("grp")
    )


@query(
    "a565_theil_sen_slope",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
), idx AS (
  SELECT grp, c,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY d) AS BIGINT)
           AS k
  FROM daily
), slopes AS (
  SELECT a.grp,
         CAST(ROUND(1000000.0 * (b.c - a.c) / (b.k - a.k), 0) AS BIGINT)
           AS s_micro
  FROM idx a JOIN idx b ON a.grp = b.grp AND b.k > a.k
), ranked AS (
  SELECT grp, s_micro,
         row_number() OVER (PARTITION BY grp ORDER BY s_micro) AS rk,
         COUNT(*) OVER (PARTITION BY grp) AS np
  FROM slopes
), med AS (
  SELECT grp, CAST(MIN(np) AS BIGINT) AS n_pairs,
         AVG(CASE WHEN rk IN ((np + 1) // 2, (np + 2) // 2)
                  THEN CAST(s_micro AS DOUBLE) END) AS med_micro
  FROM ranked GROUP BY grp
)
SELECT grp, n_pairs,
       round(med_micro / 1e6, 6) AS sen_slope_r,
       CAST(CASE WHEN med_micro > 0 THEN 1
                 WHEN med_micro < 0 THEN -1 ELSE 0 END AS INT) AS trend_sign
FROM med
ORDER BY grp
""",
    tags=("monitoring", "stats"),
)
def a565_theil_sen_slope(spark, sf_dir):
    """Theil-Sen robust trend slope of each event type's daily volume
    — the median of all pairwise slopes, the ESTIMATOR companion to
    q273's Mann-Kendall trend TEST (MK says whether a monotone trend
    exists; Theil-Sen says how steep it is, with a 29% breakdown point
    that one outage spike cannot drag the way OLS's single-point
    leverage can). The O(n²) pair set is exact because the series is
    the ~30-day calendar summary — 435 pairs per type at any sf, the
    same bounded-panel discipline as a118. Each pairwise slope is an
    exact rational micro-fixed to BIGINT; the median is the mean of
    the two middle order statistics under an explicit rank window, so
    both engines read identical integers. One corpus aggregate, then
    calendar-sized algebra."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    idx = daily.select(
        "grp",
        "c",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("d"))
        .cast("bigint")
        .alias("k"),
    ).localCheckpoint(eager=False)
    a = idx.select("grp", F.col("c").alias("ca"), F.col("k").alias("ka"))
    b = idx.select("grp", F.col("c").alias("cb"), F.col("k").alias("kb"))
    slopes = (
        a.join(b, "grp")
        .filter(F.col("kb") > F.col("ka"))
        .select(
            "grp",
            F.round(
                1000000.0
                * (F.col("cb") - F.col("ca"))
                / (F.col("kb") - F.col("ka")),
                0,
            )
            .cast("bigint")
            .alias("s_micro"),
        )
    )
    ranked = slopes.select(
        "grp",
        "s_micro",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("s_micro"))
        .alias("rk"),
        F.count("*").over(Window.partitionBy("grp")).alias("np"),
    )
    med = ranked.groupBy("grp").agg(
        F.min("np").cast("bigint").alias("n_pairs"),
        F.avg(
            F.when(
                (F.col("rk") == F.expr("(np + 1) div 2"))
                | (F.col("rk") == F.expr("(np + 2) div 2")),
                F.col("s_micro").cast("double"),
            )
        ).alias("med_micro"),
    )
    return med.select(
        "grp",
        "n_pairs",
        F.round(F.col("med_micro") / 1e6, 6).alias("sen_slope_r"),
        F.when(F.col("med_micro") > 0, 1)
        .when(F.col("med_micro") < 0, -1)
        .otherwise(0)
        .cast("int")
        .alias("trend_sign"),
    ).orderBy("grp")


@query(
    "a559_effect_sizes",
    oracle="""
WITH v AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 'treat' ELSE 'ctrl' END
           AS arm,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS xc
  FROM events WHERE event_type IN ('purchase', 'view')
), mom AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1,
         CAST(SUM(xc * xc) AS BIGINT) AS s2
  FROM v GROUP BY arm
), wide AS (
  SELECT
    (SELECT n FROM mom WHERE arm = 'treat') AS n1,
    (SELECT s1 FROM mom WHERE arm = 'treat') AS t_s1,
    (SELECT s2 FROM mom WHERE arm = 'treat') AS t_s2,
    (SELECT n FROM mom WHERE arm = 'ctrl') AS n2,
    (SELECT s1 FROM mom WHERE arm = 'ctrl') AS c_s1,
    (SELECT s2 FROM mom WHERE arm = 'ctrl') AS c_s2
), stats AS (
  SELECT n1, n2,
         CAST(t_s1 AS DOUBLE) / n1 / 100.0 AS m1,
         CAST(c_s1 AS DOUBLE) / n2 / 100.0 AS m2,
         (CAST(t_s2 AS DOUBLE) - CAST(t_s1 AS DOUBLE) * t_s1 / n1)
           / (n1 - 1) / 10000.0 AS v1,
         (CAST(c_s2 AS DOUBLE) - CAST(c_s1 AS DOUBLE) * c_s1 / n2)
           / (n2 - 1) / 10000.0 AS v2
  FROM wide
)
SELECT n1, n2,
       round(m1 - m2, 6) AS mean_diff_r,
       round((m1 - m2)
             / sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0)),
             6) AS cohens_d_r,
       round((m1 - m2)
             / sqrt(((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0))
             * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g_r,
       round((m1 - m2) / sqrt(v2), 6) AS glass_delta_r
FROM stats
""",
    tags=("monitoring", "stats"),
)
def a559_effect_sizes(spark, sf_dir):
    """Standardized effect sizes between two event populations —
    Cohen's d (pooled SD), Hedges' g (small-sample bias correction
    1 − 3/(4N−9)), and Glass's Δ (control-only SD) on purchase-vs-view
    values: the magnitude layer the testing battery lacked — a405's
    power analysis CONSUMES an assumed effect size, the z/U/t tests
    decide significance, and this MEASURES the standardized effect the
    data actually shows, which is what survives between experiments
    with different n. Two exact (n, Σx, Σx²) triples from one
    map-side-combined aggregate; sample variances, the pooled SD, and
    all three ratios evaluate as one closed-form double expression
    written identically in both engines. Corpus touched once."""
    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        F.when(F.col("event_type") == "purchase", "treat")
        .otherwise("ctrl")
        .alias("arm"),
        money("value").alias("xc"),
    )
    mom = v.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s1"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("s2"),
    )
    t = mom.filter(F.col("arm") == "treat").select(
        F.col("n").alias("n1"),
        F.col("s1").alias("t_s1"),
        F.col("s2").alias("t_s2"),
    )
    c = mom.filter(F.col("arm") == "ctrl").select(
        F.col("n").alias("n2"),
        F.col("s1").alias("c_s1"),
        F.col("s2").alias("c_s2"),
    )
    wide = t.join(F.broadcast(c))
    m1 = F.col("t_s1").cast("double") / F.col("n1") / 100.0
    m2 = F.col("c_s1").cast("double") / F.col("n2") / 100.0
    v1 = (
        (
            F.col("t_s2").cast("double")
            - F.col("t_s1").cast("double") * F.col("t_s1") / F.col("n1")
        )
        / (F.col("n1") - 1)
        / 10000.0
    )
    v2 = (
        (
            F.col("c_s2").cast("double")
            - F.col("c_s1").cast("double") * F.col("c_s1") / F.col("n2")
        )
        / (F.col("n2") - 1)
        / 10000.0
    )
    pooled = F.sqrt(
        ((F.col("n1") - 1.0) * v1 + (F.col("n2") - 1.0) * v2)
        / (F.col("n1") + F.col("n2") - 2.0)
    )
    d = (m1 - m2) / pooled
    return wide.select(
        "n1",
        "n2",
        F.round(m1 - m2, 6).alias("mean_diff_r"),
        F.round(d, 6).alias("cohens_d_r"),
        F.round(
            d * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2")) - 9.0)), 6
        ).alias("hedges_g_r"),
        F.round((m1 - m2) / F.sqrt(v2), 6).alias("glass_delta_r"),
    )


# Studentized-range critical value q(k=5 groups, df=inf, alpha=.05),
# embedded literal (both engines compare against the same constant).
_HSD_QCRIT = 3.858


@query(
    "a432_tukey_hsd",
    oracle=f"""
WITH v AS (
  SELECT event_type AS grp,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS xc
  FROM events
), mom AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1,
         CAST(SUM(xc * xc) AS BIGINT) AS s2
  FROM v GROUP BY grp
), msw AS (
  SELECT CAST(SUM(s2 - CAST(s1 AS DOUBLE) * s1 / n) AS DOUBLE)
           / CAST(SUM(n - 1) AS BIGINT) AS w,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM mom
), pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b,
         CAST(a.s1 AS DOUBLE) / a.n / 100.0
           - CAST(b.s1 AS DOUBLE) / b.n / 100.0 AS diff,
         sqrt(m.w / 2.0 * (1.0 / a.n + 1.0 / b.n)) / 100.0 AS se
  FROM mom a JOIN mom b ON a.grp < b.grp
  CROSS JOIN msw m
)
SELECT grp_a, grp_b,
       round(diff, 6) AS mean_diff_r,
       round(abs(diff) / se, 6) AS q_stat_r,
       CAST(abs(diff) / se > {_HSD_QCRIT} AS INT) AS significant
FROM pairs
ORDER BY grp_a, grp_b
""",
    tags=("monitoring", "stats"),
)
def a432_tukey_hsd(spark, sf_dir):
    """Tukey-Kramer HSD post-hoc pairwise comparisons — the step AFTER
    an omnibus ANOVA (a408) or Kruskal-Wallis (a106) says "some group
    differs": WHICH pairs differ, with the studentized-range statistic
    whose familywise error control is exactly what a battery of naive
    t-tests (the thing a107's FDR exists to repair) lacks. Every
    pair's q = |mᵢ−mⱼ| / √(MSW/2·(1/nᵢ+1/nⱼ)) uses the one pooled
    within-group variance from exact (n, Σx, Σx²) BIGINT triples (the
    a408 MSW discipline); the critical value q(k=5, df≈∞) is a
    Python-embedded literal so no engine evaluates a distribution
    function. The 10-pair 'join' is group-count sized; the corpus is
    touched once."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("grp"),
        money("value").alias("xc"),
    )
    mom = v.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s1"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("s2"),
    ).localCheckpoint(eager=False)
    msw = mom.agg(
        (
            F.sum(
                F.col("s2")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            ).cast("double")
            / F.sum(F.col("n") - 1).cast("bigint")
        ).alias("w")
    )
    a = mom.select(
        F.col("grp").alias("grp_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("sa"),
    )
    b = mom.select(
        F.col("grp").alias("grp_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("sb"),
    )
    pairs = (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .join(F.broadcast(msw))
        .select(
            "grp_a",
            "grp_b",
            (
                F.col("sa").cast("double") / F.col("na") / 100.0
                - F.col("sb").cast("double") / F.col("nb") / 100.0
            ).alias("diff"),
            (
                F.sqrt(
                    F.col("w")
                    / 2.0
                    * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                )
                / 100.0
            ).alias("se"),
        )
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        F.round(F.col("diff"), 6).alias("mean_diff_r"),
        F.round(F.abs("diff") / F.col("se"), 6).alias("q_stat_r"),
        (F.abs("diff") / F.col("se") > _HSD_QCRIT)
        .cast("int")
        .alias("significant"),
    ).orderBy("grp_a", "grp_b")


_GRUBBS_CRIT = 4.0  # |z|max flag threshold for n~1e4 (documented literal)


@query(
    "a433_grubbs_test",
    oracle=f"""
WITH v AS (
  SELECT event_type AS grp,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS xc
  FROM events
), mom AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(xc) AS BIGINT) AS s1,
         CAST(SUM(xc * xc) AS BIGINT) AS s2,
         CAST(MAX(xc) AS BIGINT) AS xmax,
         CAST(MIN(xc) AS BIGINT) AS xmin
  FROM v GROUP BY grp
), stats AS (
  SELECT grp, n,
         CAST(s1 AS DOUBLE) / n AS mean,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
              / (n - 1)) AS sd,
         CAST(xmax AS BIGINT) AS xmax, CAST(xmin AS BIGINT) AS xmin
  FROM mom
)
SELECT grp, n,
       round(mean / 100.0, 6) AS mean_r,
       round(sd / 100.0, 6) AS sd_r,
       round(GREATEST(xmax - mean, mean - xmin) / sd, 6) AS g_stat_r,
       CAST(GREATEST(xmax - mean, mean - xmin) / sd > {_GRUBBS_CRIT}
            AS INT) AS outlier_flag
FROM stats
ORDER BY grp
""",
    tags=("monitoring", "stats"),
)
def a433_grubbs_test(spark, sf_dir):
    """Grubbs' maximum-studentized-deviate test per event type — the
    single-outlier detector that formalizes "is the most extreme value
    too extreme": G = max(x̄−min, max−x̄)/s, the parametric cousin of
    the IQR fences (q91) and robust-z (MAD) checks, and the test you
    report when one value must be formally excluded. The whole
    statistic needs only (n, Σx, Σx², min, max) — one
    map-side-combined aggregate of exact BIGINTs — with mean/sd/G as
    one closed-form double expression and the n≈10⁴-appropriate
    critical value embedded as a literal. The corpus is touched once;
    the comparison runs on 5 summary rows."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        F.col("event_type").alias("grp"),
        money("value").alias("xc"),
    )
    mom = v.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("s1"),
        F.sum(F.col("xc") * F.col("xc")).cast("bigint").alias("s2"),
        F.max("xc").cast("bigint").alias("xmax"),
        F.min("xc").cast("bigint").alias("xmin"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    g = F.greatest(F.col("xmax") - mean, mean - F.col("xmin")) / sd
    return mom.select(
        "grp",
        "n",
        F.round(mean / 100.0, 6).alias("mean_r"),
        F.round(sd / 100.0, 6).alias("sd_r"),
        F.round(g, 6).alias("g_stat_r"),
        (g > _GRUBBS_CRIT).cast("int").alias("outlier_flag"),
    ).orderBy("grp")


_LB_LAGS = 5


@query(
    "a434_ljung_box",
    oracle=f"""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
), base AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
  FROM daily GROUP BY grp
), dev AS (
  SELECT daily.grp, d, b.n, b.s,
         b.n * c - b.s AS nd
  FROM daily JOIN base b ON b.grp = daily.grp
), lagged AS (
  SELECT grp, n, nd,
         {", ".join(
           f"lag(nd, {k}) OVER (PARTITION BY grp ORDER BY d) AS nd{k}"
           for k in range(1, _LB_LAGS + 1)
         )}
  FROM dev
), sums AS (
  SELECT grp, CAST(MIN(n) AS BIGINT) AS n,
         CAST(SUM(nd * nd) AS BIGINT) AS s0,
         {", ".join(
           f"CAST(COALESCE(SUM(nd * nd{k}), 0) AS BIGINT) AS s{k}"
           for k in range(1, _LB_LAGS + 1)
         )}
  FROM lagged GROUP BY grp
), terms AS (
  SELECT grp, n,
         {", ".join(
           f"round(CAST(s{k} AS DOUBLE) / s0, 6) AS rho{k}_r"
           for k in range(1, 4)
         )},
         {" + ".join(
           f"CAST(ROUND(1000000.0 * (CAST(s{k} AS DOUBLE) / s0)"
           f" * (CAST(s{k} AS DOUBLE) / s0) / (n - {k}), 0) AS BIGINT)"
           for k in range(1, _LB_LAGS + 1)
         )} AS term_micro
  FROM sums
)
SELECT grp, n, rho1_r, rho2_r, rho3_r,
       round(n * (n + 2.0) * (term_micro / 1e6), 6) AS q_lb_r
FROM terms
ORDER BY grp
""",
    tags=("monitoring", "stats"),
)
def a434_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau test (lags 1–5) on each event type's
    daily volume — the JOINT "is there ANY autocorrelation left"
    statistic that turns q231's per-lag ACF readings into one
    whiteness decision: Q = n(n+2)Σρ̂ₖ²/(n−k), the standard residual
    gate after any forecast fit (a360/a431/a114). Exactness via the
    q231 trick taken further: deviations are scaled by n (n·x−S, exact
    BIGINT), so every autocovariance Σndₜ·ndₜ₊ₖ and the lag-0 energy
    are exact integers whose scale cancels in ρ̂ₖ; each of the 5
    Q-terms micro-fixes to a BIGINT before the cross-lag sum. Five lag
    windows ride one per-type ordering; the corpus is gone after the
    first count aggregate."""
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
        "grp",
        "d",
        "n",
        (F.col("n") * F.col("c") - F.col("s")).alias("nd"),
    )
    w = Window.partitionBy("grp").orderBy("d")
    lagged = dev.select(
        "grp",
        "n",
        "nd",
        *[F.lag("nd", k).over(w).alias(f"nd{k}") for k in range(1, _LB_LAGS + 1)],
    )
    sums = lagged.groupBy("grp").agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum(F.col("nd") * F.col("nd")).cast("bigint").alias("s0"),
        *[
            F.coalesce(F.sum(F.col("nd") * F.col(f"nd{k}")), F.lit(0))
            .cast("bigint")
            .alias(f"s{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    rho = {
        k: F.col(f"s{k}").cast("double") / F.col("s0")
        for k in range(1, _LB_LAGS + 1)
    }
    term_micro = None
    for k in range(1, _LB_LAGS + 1):
        t = F.round(
            1000000.0 * rho[k] * rho[k] / (F.col("n") - k), 0
        ).cast("bigint")
        term_micro = t if term_micro is None else term_micro + t
    return sums.select(
        "grp",
        "n",
        F.round(rho[1], 6).alias("rho1_r"),
        F.round(rho[2], 6).alias("rho2_r"),
        F.round(rho[3], 6).alias("rho3_r"),
        F.round(
            F.col("n") * (F.col("n") + 2.0) * (term_micro / 1e6), 6
        ).alias("q_lb_r"),
    ).orderBy("grp")


@query(
    "a438_conformal_interval",
    oracle="""
WITH split AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS y_cents,
         CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                   BETWEEN '0' AND '5' THEN 'train'
              WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)
                   BETWEEN '6' AND 'a' THEN 'cal'
              ELSE 'test' END AS fold,
         o_orderkey
  FROM orders
), fit AS (
  SELECT grp, CAST(SUM(y_cents) AS BIGINT) // COUNT(*) AS pred_cents,
         CAST(COUNT(*) AS BIGINT) AS n_train
  FROM split WHERE fold = 'train' GROUP BY grp
), cal AS (
  SELECT s.grp, abs(s.y_cents - f.pred_cents) AS r_cents, s.o_orderkey
  FROM split s JOIN fit f ON f.grp = s.grp
  WHERE s.fold = 'cal'
), ranked AS (
  SELECT grp, r_cents,
         row_number() OVER (
           PARTITION BY grp ORDER BY r_cents, o_orderkey) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n_cal
  FROM cal
), qhat AS (
  SELECT grp, n_cal, r_cents AS qhat_cents
  FROM ranked
  WHERE rn = least((9 * (n_cal + 1) + 9) // 10, n_cal)
), test AS (
  SELECT s.grp,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN abs(s.y_cents - f.pred_cents) <= q.qhat_cents
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM split s
  JOIN fit f ON f.grp = s.grp
  JOIN qhat q ON q.grp = s.grp
  WHERE s.fold = 'test'
  GROUP BY s.grp
)
SELECT f.grp, f.n_train, q.n_cal, t.n_test, f.pred_cents,
       q.qhat_cents, t.n_covered,
       round(CAST(t.n_covered AS DOUBLE) / t.n_test, 6) AS coverage_r
FROM fit f JOIN qhat q ON q.grp = f.grp JOIN test t ON t.grp = f.grp
ORDER BY f.grp
""",
    tags=("monitoring", "ml"),
)
def a438_conformal_interval(spark, sf_dir):
    """Split conformal prediction — the distribution-free interval
    recipe modern ML monitoring uses to wrap ANY point predictor with
    a finite-sample coverage guarantee. Three disjoint md5(orderkey)
    folds (the q86 deterministic-split discipline): a per-priority
    mean-price baseline is fit on 'train' (exact integer cents,
    floor-div mean so both engines agree), the conformal radius q̂ is
    the ⌈0.9·(n+1)⌉-th smallest absolute calibration residual — the
    order statistic is picked by an exact integer rank over BIGINT
    cents (ceil done in integer arithmetic, (9(n+1)+9) div 10, so no
    float boundary can flip the index) — and empirical coverage of
    pred ± q̂ is scored on 'test'. Everything is two group-aggregates
    plus one per-group rank: at 100 TB the split predicate prunes at
    the scan, the rank is a per-group sort on the cal fold only, and
    no stage ever joins fact-to-fact. Theory says coverage ≥ 90%
    regardless of how wrong the baseline model is — visible here."""
    o = table(spark, sf_dir, "orders")
    hexc = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    split = o.select(
        F.col("o_orderpriority").alias("grp"),
        money("o_totalprice").alias("y_cents"),
        F.when(hexc.between("0", "5"), F.lit("train"))
        .when(hexc.between("6", "a"), F.lit("cal"))
        .otherwise(F.lit("test"))
        .alias("fold"),
        "o_orderkey",
    ).localCheckpoint(eager=False)
    fit = (
        split.filter(F.col("fold") == "train")
        .groupBy("grp")
        .agg(
            F.expr("sum(y_cents) div count(*)").alias("pred_cents"),
            F.count("*").cast("bigint").alias("n_train"),
        )
    )
    cal = (
        split.filter(F.col("fold") == "cal")
        .join(F.broadcast(fit), "grp")
        .select(
            "grp",
            F.abs(F.col("y_cents") - F.col("pred_cents")).alias("r_cents"),
            "o_orderkey",
        )
    )
    w = Window.partitionBy("grp").orderBy("r_cents", "o_orderkey")
    wc = Window.partitionBy("grp")
    qhat = (
        cal.select(
            "grp",
            "r_cents",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).cast("bigint").alias("n_cal"),
        )
        .filter(
            F.col("rn")
            == F.least(
                F.expr("(9 * (n_cal + 1) + 9) div 10"), F.col("n_cal")
            )
        )
        .select("grp", "n_cal", F.col("r_cents").alias("qhat_cents"))
    )
    test = (
        split.filter(F.col("fold") == "test")
        .join(F.broadcast(fit), "grp")
        .join(F.broadcast(qhat), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("y_cents") - F.col("pred_cents"))
                    <= F.col("qhat_cents"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        fit.join(qhat, "grp")
        .join(test, "grp")
        .select(
            "grp",
            "n_train",
            "n_cal",
            "n_test",
            "pred_cents",
            "qhat_cents",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage_r"),
        )
        .orderBy("grp")
    )


# round(cos(2*pi*h/24) * 1e9) / round(sin(...)*1e9) for h = 0..23,
# generated once with Python's math and embedded as identical integer
# literals in both engines (the q240 hyperplane-literal recipe) so no
# engine ever evaluates a transcendental in the hot path.
_COS_FP_24 = (
    1000000000, 965925826, 866025404, 707106781, 500000000, 258819045,
    0, -258819045, -500000000, -707106781, -866025404, -965925826,
    -1000000000, -965925826, -866025404, -707106781, -500000000,
    -258819045, 0, 258819045, 500000000, 707106781, 866025404, 965925826,
)
_SIN_FP_24 = (
    0, 258819045, 500000000, 707106781, 866025404, 965925826,
    1000000000, 965925826, 866025404, 707106781, 500000000, 258819045,
    0, -258819045, -500000000, -707106781, -866025404, -965925826,
    -1000000000, -965925826, -866025404, -707106781, -500000000,
    -258819045,
)


@query(
    "a443_circular_stats",
    oracle=f"""
WITH trig AS (
  SELECT CAST(h AS INT) AS hod,
         [{', '.join(str(c) for c in _COS_FP_24)}][CAST(h AS INT) + 1]
           ::BIGINT AS cos_fp,
         [{', '.join(str(s) for s in _SIN_FP_24)}][CAST(h AS INT) + 1]
           ::BIGINT AS sin_fp
  FROM range(24) t(h)
), cells AS (
  SELECT event_type, CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, hod
), sums AS (
  SELECT c.event_type,
         CAST(SUM(c.n) AS BIGINT) AS n,
         CAST(SUM(c.n * t.cos_fp) AS BIGINT) AS c_fp,
         CAST(SUM(c.n * t.sin_fp) AS BIGINT) AS s_fp
  FROM cells c JOIN trig t ON t.hod = c.hod
  GROUP BY c.event_type
)
SELECT event_type, n,
       round(sqrt(CAST(c_fp AS DOUBLE) * c_fp + CAST(s_fp AS DOUBLE) * s_fp)
             / (n * 1000000000.0), 6) AS resultant_r,
       round(n * (CAST(c_fp AS DOUBLE) * c_fp + CAST(s_fp AS DOUBLE) * s_fp)
             / (n * 1000000000.0) / (n * 1000000000.0), 6) AS rayleigh_z_r,
       round(exp(-(n * (CAST(c_fp AS DOUBLE) * c_fp
                        + CAST(s_fp AS DOUBLE) * s_fp)
             / (n * 1000000000.0) / (n * 1000000000.0))), 6) AS p_approx_r,
       round(((atan2(CAST(s_fp AS DOUBLE), CAST(c_fp AS DOUBLE))
               / 6.283185307179586) * 24.0 + 24.0) % 24.0, 6)
         AS mean_hour_r
FROM sums ORDER BY event_type
""",
    tags=("monitoring", "stats"),
)
def a443_circular_stats(spark, sf_dir):
    """Circular (directional) statistics on hour-of-day — time-of-day
    is an angle, not a line: 23:00 and 01:00 are two hours apart, so
    arithmetic means and variances on the raw hour are wrong and the
    right machinery is the mean resultant vector. Per event type:
    R̄ = |Σe^{iθ}|/n, the Rayleigh uniformity test z = nR̄² with its
    large-n p ≈ exp(−z), and the circular mean hour via atan2. The
    24 cos/sin values are PRE-GENERATED integer literals embedded in
    both engines (the q240 hyperplane recipe), so C and S are exact
    BIGINT dot products of hour-bucket counts against a constant
    table — a 24-row broadcast join, one shuffle to per-type sums,
    and no transcendental is ever evaluated per event row. sqrt /
    atan2 / exp run once per GROUP on identical integers (their
    sub-ulp engine differences sit far below the 6dp rounding).
    Flat-profile fixture → R̄≈0, p≈1: the test correctly refuses to
    see a peak hour. At 100 TB: the bucket rollup is the only
    data-scale stage."""
    trig = literal_frame(
        spark,
        [(h, _COS_FP_24[h], _SIN_FP_24[h]) for h in range(24)],
        "hod int, cos_fp long, sin_fp long",
    )
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.hour("ts").cast("int").alias("hod")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    sums = (
        cells.join(F.broadcast(trig), "hod")
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum(F.col("n") * F.col("cos_fp")).cast("bigint").alias("c_fp"),
            F.sum(F.col("n") * F.col("sin_fp")).cast("bigint").alias("s_fp"),
        )
    )
    r2 = F.col("c_fp").cast("double") * F.col("c_fp") + F.col(
        "s_fp"
    ).cast("double") * F.col("s_fp")
    denom = F.col("n") * 1000000000.0
    z = F.col("n") * r2 / denom / denom
    return sums.select(
        "event_type",
        "n",
        F.round(F.sqrt(r2) / denom, 6).alias("resultant_r"),
        F.round(z, 6).alias("rayleigh_z_r"),
        F.round(F.exp(-z), 6).alias("p_approx_r"),
        F.round(
            (
                (
                    F.atan2(
                        F.col("s_fp").cast("double"),
                        F.col("c_fp").cast("double"),
                    )
                    / 6.283185307179586
                )
                * 24.0
                + 24.0
            )
            % 24.0,
            6,
        ).alias("mean_hour_r"),
    ).orderBy("event_type")


@query(
    "a449_gumbel_block_maxima",
    oracle="""
WITH wk AS (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week,
         CAST(MAX(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS mx
  FROM orders GROUP BY week
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mx) AS BIGINT) AS s1,
         CAST(SUM(mx * mx) AS BIGINT) AS s2
  FROM wk
), fit AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS mean_c,
         sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
              / (CAST(n AS DOUBLE) * (n - 1.0))) AS sd_c
  FROM mom
), par AS (
  SELECT n, mean_c, sd_c,
         sd_c * 0.7796968012336293 AS beta_c,
         mean_c - 0.5772156649015329 * (sd_c * 0.7796968012336293) AS mu_c
  FROM fit
)
SELECT n AS n_blocks,
       round(mean_c / 100.0, 4) AS mean_usd_r,
       round(sd_c / 100.0, 4) AS sd_usd_r,
       round(mu_c / 100.0, 4) AS mu_usd_r,
       round(beta_c / 100.0, 4) AS beta_usd_r,
       round((mu_c - beta_c * ln(-ln(1.0 - 1.0 / 10.0))) / 100.0, 4)
         AS rl10_usd_r,
       round((mu_c - beta_c * ln(-ln(1.0 - 1.0 / 52.0))) / 100.0, 4)
         AS rl52_usd_r,
       round((mu_c - beta_c * ln(-ln(1.0 - 1.0 / 104.0))) / 100.0, 4)
         AS rl104_usd_r
FROM par
""",
    tags=("monitoring", "stats"),
)
def a449_gumbel_block_maxima(spark, sf_dir):
    """Extreme-value analysis via Gumbel block maxima — capacity
    planning's answer to "how big is the 2-year spike?": weekly
    maxima of order value form the block-maxima sample, the Gumbel
    parameters come from the closed-form method of moments
    (β = s·√6/π, μ = m − γβ, with √6/π and Euler's γ embedded as
    identical literals in both engines), and return levels
    x_T = μ − β·ln(−ln(1−1/T)) are read off for 10/52/104-week
    horizons. The fact table is touched once for the weekly MAX
    rollup in exact integer cents; moments are one aggregate of
    (n, Σ, Σx²) — the n·Σx² − Σ² variance form is evaluated in
    doubles (each IEEE op correctly rounded, so both engines agree
    bit-for-bit) because Σ² overflows BIGINT by design, and the
    per-row transcendentals are zero: ln runs six times total on
    one row. Scales as one shuffle at any corpus size."""
    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("week")
    ).agg(F.max(money("o_totalprice")).cast("bigint").alias("mx"))
    mom = wk.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("bigint").alias("s2"),
    )
    fit = mom.select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_c"),
        F.sqrt(
            (
                F.col("n").cast("double") * F.col("s2")
                - F.col("s1").cast("double") * F.col("s1")
            )
            / (F.col("n").cast("double") * (F.col("n") - 1.0))
        ).alias("sd_c"),
    )
    par = fit.select(
        "n",
        "mean_c",
        "sd_c",
        (F.col("sd_c") * 0.7796968012336293).alias("beta_c"),
        (
            F.col("mean_c")
            - 0.5772156649015329 * (F.col("sd_c") * 0.7796968012336293)
        ).alias("mu_c"),
    )

    # ln(-ln(1-1/T)) per horizon is computed IN SQL on both sides (not
    # pre-folded in Python) so the two engines run the same program text
    return par.select(
        F.col("n").alias("n_blocks"),
        F.round(F.col("mean_c") / 100.0, 4).alias("mean_usd_r"),
        F.round(F.col("sd_c") / 100.0, 4).alias("sd_usd_r"),
        F.round(F.col("mu_c") / 100.0, 4).alias("mu_usd_r"),
        F.round(F.col("beta_c") / 100.0, 4).alias("beta_usd_r"),
        F.round(
            (
                F.col("mu_c")
                - F.col("beta_c") * F.log(-F.log(F.lit(1.0 - 1.0 / 10.0)))
            )
            / 100.0,
            4,
        ).alias("rl10_usd_r"),
        F.round(
            (
                F.col("mu_c")
                - F.col("beta_c") * F.log(-F.log(F.lit(1.0 - 1.0 / 52.0)))
            )
            / 100.0,
            4,
        ).alias("rl52_usd_r"),
        F.round(
            (
                F.col("mu_c")
                - F.col("beta_c") * F.log(-F.log(F.lit(1.0 - 1.0 / 104.0)))
            )
            / 100.0,
            4,
        ).alias("rl104_usd_r"),
    )


@query(
    "a460_krippendorff_alpha",
    oracle="""
WITH ratings AS (
  SELECT l_orderkey AS u, l_returnflag AS c FROM lineitem
), unit_cat AS (
  SELECT u, c, CAST(COUNT(*) AS BIGINT) AS n_uc FROM ratings GROUP BY u, c
), unit AS (
  SELECT u, CAST(SUM(n_uc) AS BIGINT) AS m_u FROM unit_cat GROUP BY u
), pairable AS (
  SELECT u, m_u FROM unit WHERE m_u >= 2
), do_num AS (
  -- 60 is divisible by every m_u-1 (order size <= 7), so each unit
  -- term 60*n_uc*(m_u-n_uc)/(m_u-1) is an exact integer
  SELECT CAST(SUM((60 * uc.n_uc * (p.m_u - uc.n_uc)) // (p.m_u - 1))
              AS BIGINT) AS do60
  FROM unit_cat uc JOIN pairable p ON p.u = uc.u
), marg AS (
  SELECT CAST(SUM(uc.n_uc) AS BIGINT) AS n_c
  FROM unit_cat uc JOIN pairable p ON p.u = uc.u
  GROUP BY uc.c
), tot AS (
  SELECT CAST(SUM(n_c) AS BIGINT) AS n_tot,
         CAST(SUM(n_c * n_c) AS BIGINT) AS s2
  FROM marg
), fin AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairable) AS n_units,
         t.n_tot,
         CAST(d.do60 AS DOUBLE) / (60.0 * t.n_tot) AS do_,
         CAST(t.n_tot * (t.n_tot - 1) - (t.s2 - t.n_tot) AS DOUBLE)
           / (CAST(t.n_tot AS DOUBLE) * (t.n_tot - 1)) AS de_
  FROM do_num d CROSS JOIN tot t
)
SELECT n_units, n_tot AS n_ratings,
       round(do_, 6) AS do_r, round(de_, 6) AS de_r,
       round(1.0 - do_ / de_, 6) AS alpha_r
FROM fin
""",
    tags=("monitoring", "agreement"),
)
def a460_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal metric) — the inter-annotator
    agreement coefficient LLM annotation pipelines standardize on
    precisely because, unlike Cohen's kappa (a352, exactly 2 raters)
    and Fleiss' kappa (a388, fixed panel size), it digests VARIABLE
    raters per unit and missing ratings natively: here each order is
    a unit, its lineitems are interchangeable raters, and the return
    flag is the rating category. The whole statistic is exact
    integer arithmetic: the observed-disagreement numerator scales
    each unit term by 60 (divisible by every possible m_u−1 with
    order size ≤ 7 — so the floor-div is exact, never truncating),
    expected disagreement comes from global category margins via
    n_tot(n_tot−1) − Σn_c(n_c−1), and the two divisions happen once
    at the end on identical integers. Plan: two groupBys and two
    1-row aggregates — single-digit shuffles regardless of corpus
    size; single-rating units drop out exactly as the coefficient
    prescribes. Alpha ≈ 0 on this fixture (flags are assigned
    independently of orders) — the honest no-agreement baseline."""
    li = table(spark, sf_dir, "lineitem")
    unit_cat = (
        li.select(
            F.col("l_orderkey").alias("u"), F.col("l_returnflag").alias("c")
        )
        .groupBy("u", "c")
        .agg(F.count("*").cast("bigint").alias("n_uc"))
        .localCheckpoint(eager=False)
    )
    unit = unit_cat.groupBy("u").agg(
        F.sum("n_uc").cast("bigint").alias("m_u")
    )
    pairable = unit.filter(F.col("m_u") >= 2)
    joined = unit_cat.join(pairable, "u").localCheckpoint(eager=False)
    do_num = joined.agg(
        F.sum(
            F.expr("(60 * n_uc * (m_u - n_uc)) div (m_u - 1)")
        )
        .cast("bigint")
        .alias("do60")
    )
    marg = joined.groupBy("c").agg(
        F.sum("n_uc").cast("bigint").alias("n_c")
    )
    tot = marg.agg(
        F.sum("n_c").cast("bigint").alias("n_tot"),
        F.sum(F.col("n_c") * F.col("n_c")).cast("bigint").alias("s2"),
    )
    n_units = pairable.agg(F.count("*").cast("bigint").alias("n_units"))
    do_ = F.col("do60").cast("double") / (60.0 * F.col("n_tot"))
    de_ = (
        (
            F.col("n_tot") * (F.col("n_tot") - 1)
            - (F.col("s2") - F.col("n_tot"))
        ).cast("double")
        / (F.col("n_tot").cast("double") * (F.col("n_tot") - 1))
    )
    return (
        do_num.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n_units))
        .select(
            "n_units",
            F.col("n_tot").alias("n_ratings"),
            F.round(do_, 6).alias("do_r"),
            F.round(de_, 6).alias("de_r"),
            F.round(1.0 - do_ / de_, 6).alias("alpha_r"),
        )
    )


@query(
    "a466_deming_regression",
    oracle="""
WITH pair AS (
  SELECT p.p_partkey,
         CAST(ROUND(p.p_retailprice * 100.0, 0) AS BIGINT) AS x_cents,
         CAST(SUM(CAST(ROUND(l.l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS sum_ep,
         CAST(SUM(CAST(ROUND(l.l_quantity * 100.0, 0) AS BIGINT))
              AS BIGINT) AS sum_q
  FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
  GROUP BY p.p_partkey, x_cents
), xy AS (
  SELECT x_cents,
         CAST(ROUND(CAST(sum_ep AS DOUBLE) * 100.0 / sum_q, 0) AS BIGINT)
           AS y_cents
  FROM pair WHERE sum_q > 0
), mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_cents) AS BIGINT) AS sx,
         CAST(SUM(y_cents) AS BIGINT) AS sy,
         SUM(CAST(x_cents AS DOUBLE) * x_cents) AS sxx,
         SUM(CAST(y_cents AS DOUBLE) * y_cents) AS syy,
         SUM(CAST(x_cents AS DOUBLE) * y_cents) AS sxy
  FROM xy
), cen AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
         sxx / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
           AS vxx,
         syy / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
           AS vyy,
         sxy / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)
           AS vxy
  FROM mom
)
SELECT n,
       round((vyy - vxx + sqrt((vyy - vxx) * (vyy - vxx)
              + 4.0 * vxy * vxy)) / (2.0 * vxy), 6) AS slope_r,
       round((my - ((vyy - vxx + sqrt((vyy - vxx) * (vyy - vxx)
              + 4.0 * vxy * vxy)) / (2.0 * vxy)) * mx) / 100.0, 4)
         AS intercept_usd_r,
       round(vxy / sqrt(vxx * vyy), 6) AS pearson_r
FROM cen
""",
    tags=("monitoring", "stats"),
)
def a466_deming_regression(spark, sf_dir):
    """Deming (errors-in-variables) regression between two ways of
    measuring a part's price — catalog retail price vs realized mean
    unit sale price: OLS (q258) assumes x is error-free and biases
    the slope toward zero when it isn't; Deming (δ=1) treats BOTH
    axes as noisy, with the closed form β = (Syy−Sxx +
    √((Syy−Sxx)²+4Sxy²))/2Sxy — the method-comparison standard in
    measurement QA. All moments come from exact integer cents (the
    per-part mean unit price is itself a ROUNDed integer, so the
    second moments are deterministic IEEE doubles of identical
    inputs on both engines), one fact-table aggregate per part plus
    one 1-row moment aggregate — two shuffles at any scale. The
    intercept lands in dollars; Pearson r rides along from the same
    moments for the bias-vs-OLS reading."""
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    pair = (
        p.join(li, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_partkey",
            money("p_retailprice").alias("x_cents"),
        )
        .agg(
            F.sum(money("l_extendedprice"))
            .cast("bigint")
            .alias("sum_ep"),
            F.sum(money("l_quantity"))
            .cast("bigint")
            .alias("sum_q"),
        )
    )
    xy = pair.filter(F.col("sum_q") > 0).select(
        "x_cents",
        F.round(F.col("sum_ep").cast("double") * 100.0 / F.col("sum_q"), 0)
        .cast("bigint")
        .alias("y_cents"),
    )
    mom = xy.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x_cents").cast("bigint").alias("sx"),
        F.sum("y_cents").cast("bigint").alias("sy"),
        F.sum(F.col("x_cents").cast("double") * F.col("x_cents")).alias("sxx"),
        F.sum(F.col("y_cents").cast("double") * F.col("y_cents")).alias("syy"),
        F.sum(F.col("x_cents").cast("double") * F.col("y_cents")).alias("sxy"),
    )
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / F.col("n")
    cen = mom.select(
        "n",
        mx.alias("mx"),
        my.alias("my"),
        (F.col("sxx") / F.col("n") - mx * mx).alias("vxx"),
        (F.col("syy") / F.col("n") - my * my).alias("vyy"),
        (F.col("sxy") / F.col("n") - mx * my).alias("vxy"),
    )
    disc = F.sqrt(
        (F.col("vyy") - F.col("vxx")) * (F.col("vyy") - F.col("vxx"))
        + 4.0 * F.col("vxy") * F.col("vxy")
    )
    slope = (F.col("vyy") - F.col("vxx") + disc) / (2.0 * F.col("vxy"))
    return cen.select(
        "n",
        F.round(slope, 6).alias("slope_r"),
        F.round((F.col("my") - slope * F.col("mx")) / 100.0, 4).alias(
            "intercept_usd_r"
        ),
        F.round(
            F.col("vxy") / F.sqrt(F.col("vxx") * F.col("vyy")), 6
        ).alias("pearson_r"),
    )


@query(
    "a467_matching_estimator",
    oracle="""
WITH lead_t AS (
  SELECT o.o_orderkey AS ok, o.o_orderpriority AS pri,
         CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT) AS price_c,
         CAST(CAST(MAX(l.l_shipdate) AS DATE)
              - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lead_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY ok, pri, price_c, CAST(o.o_orderdate AS DATE)
), t AS (
  SELECT ok, price_c, lead_days, price_c // 100000 AS bkt
  FROM lead_t WHERE pri = '1-URGENT'
), c AS (
  SELECT ok, price_c, lead_days, price_c // 100000 AS bkt
  FROM lead_t WHERE pri = '5-LOW'
), cand AS (
  SELECT t.ok AS t_ok, t.lead_days AS t_y, c.ok AS c_ok,
         c.lead_days AS c_y, abs(t.price_c - c.price_c) AS gap,
         row_number() OVER (PARTITION BY t.ok
           ORDER BY abs(t.price_c - c.price_c), c.ok) AS rn
  FROM t JOIN c ON c.bkt BETWEEN t.bkt - 1 AND t.bkt + 1
  WHERE abs(t.price_c - c.price_c) <= 100000
  QUALIFY rn = 1
), agg AS (
  SELECT CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n_treated,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(t_y) AS BIGINT) AS sum_t,
         CAST(SUM(c_y) AS BIGINT) AS sum_c
  FROM cand
)
SELECT n_treated, n_matched,
       round(CAST(n_matched AS DOUBLE) / n_treated, 6) AS match_rate_r,
       round(CAST(sum_t AS DOUBLE) / n_matched, 6) AS mean_treated_r,
       round(CAST(sum_c AS DOUBLE) / n_matched, 6) AS mean_control_r,
       round(CAST(sum_t - sum_c AS DOUBLE) / n_matched, 6) AS att_days_r
FROM agg
""",
    tags=("monitoring", "causal"),
)
def a467_matching_estimator(spark, sf_dir):
    """Nearest-neighbor matching estimator (ATT) — the third leg of
    the causal stack beside CUPED (q259) and diff-in-diff (q323):
    does URGENT priority actually ship faster than LOW, comparing
    each urgent order only against the low-priority order with the
    CLOSEST total price (caliper ±$1000, matching with replacement)?
    Candidate pairs come from the q108 banded-bucket join — treated
    rows only meet controls in their own or adjacent $1000 price
    bucket, never the full treated×control cross — and the match is
    an exact integer argmin (|price gap|, control key). Outcomes are
    exact day counts, so ATT is a ratio of exact integers. The
    match-rate column is the overlap diagnostic every matching study
    must report (unmatched treated = off-support). One fact join for
    outcomes, one bounded band join, one rank — scales like the
    as-of join family."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lead = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderpriority").alias("pri"),
            money("o_totalprice").alias("price_c"),
            F.col("o_orderdate").cast("date").alias("od"),
        )
        .agg(
            F.datediff(F.max(F.col("l_shipdate").cast("date")), F.col("od"))
            .cast("bigint")
            .alias("lead_days")
        )
        .localCheckpoint(eager=False)
    )
    t = lead.filter(F.col("pri") == "1-URGENT").select(
        F.col("ok").alias("t_ok"),
        F.col("price_c").alias("t_price"),
        F.col("lead_days").alias("t_y"),
        F.expr("price_c div 100000").alias("t_bkt"),
    ).localCheckpoint(eager=False)
    c = lead.filter(F.col("pri") == "5-LOW").select(
        F.col("ok").alias("c_ok"),
        F.col("price_c").alias("c_price"),
        F.col("lead_days").alias("c_y"),
        F.expr("price_c div 100000").alias("c_bkt"),
    )
    w = Window.partitionBy("t_ok").orderBy("gap", "c_ok")
    # q108 discipline: the +/-1-bucket band becomes an EQUI join by
    # exploding each treated row to its 3 candidate buckets — Spark
    # would otherwise plan the BETWEEN condition as a cartesian
    t3 = t.select(
        "t_ok",
        "t_price",
        "t_y",
        F.explode(
            F.array(
                F.col("t_bkt") - 1, F.col("t_bkt"), F.col("t_bkt") + 1
            )
        ).alias("c_bkt"),
    )
    cand = (
        t3.join(c, "c_bkt")
        .select(
            "t_ok",
            "t_y",
            "c_ok",
            "c_y",
            F.abs(F.col("t_price") - F.col("c_price")).alias("gap"),
        )
        .filter(F.col("gap") <= 100000)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    n_t = t.agg(F.count("*").cast("bigint").alias("n_treated"))
    agg = cand.agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.sum("t_y").cast("bigint").alias("sum_t"),
        F.sum("c_y").cast("bigint").alias("sum_c"),
    )
    return (
        agg.crossJoin(F.broadcast(n_t))
        .select(
            "n_treated",
            "n_matched",
            F.round(
                F.col("n_matched").cast("double") / F.col("n_treated"), 6
            ).alias("match_rate_r"),
            F.round(
                F.col("sum_t").cast("double") / F.col("n_matched"), 6
            ).alias("mean_treated_r"),
            F.round(
                F.col("sum_c").cast("double") / F.col("n_matched"), 6
            ).alias("mean_control_r"),
            F.round(
                (F.col("sum_t") - F.col("sum_c")).cast("double")
                / F.col("n_matched"),
                6,
            ).alias("att_days_r"),
        )
    )


@query(
    "a468_regression_discontinuity",
    oracle="""
WITH lead_t AS (
  SELECT o.o_orderkey AS ok,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS price_usd,
         CAST(CAST(MAX(l.l_shipdate) AS DATE)
              - CAST(o.o_orderdate AS DATE) AS BIGINT) AS y
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY ok, price_usd, CAST(o.o_orderdate AS DATE)
), band AS (
  SELECT price_usd - 200000 AS d, y,
         CASE WHEN price_usd >= 200000 THEN 'R' ELSE 'L' END AS side
  FROM lead_t
  WHERE price_usd >= 100000 AND price_usd < 300000
), mom AS (
  SELECT side,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(d) AS BIGINT) AS sd,
         CAST(SUM(d * d) AS BIGINT) AS sdd,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(d * y) AS BIGINT) AS sdy
  FROM band GROUP BY side
), fit AS (
  SELECT side, n,
         (CAST(n AS DOUBLE) * sdy - CAST(sd AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd) AS slope,
         (CAST(sy AS DOUBLE)
          - ((CAST(n AS DOUBLE) * sdy - CAST(sd AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sdd - CAST(sd AS DOUBLE) * sd)) * sd)
           / n AS icept
  FROM mom
)
SELECT MAX(CASE WHEN side = 'L' THEN n END) AS n_left,
       MAX(CASE WHEN side = 'R' THEN n END) AS n_right,
       round(MAX(CASE WHEN side = 'L' THEN icept END), 6) AS icept_left_r,
       round(MAX(CASE WHEN side = 'R' THEN icept END), 6) AS icept_right_r,
       round(MAX(CASE WHEN side = 'L' THEN slope END) * 100000.0, 6)
         AS slope_left_per100k_r,
       round(MAX(CASE WHEN side = 'R' THEN slope END) * 100000.0, 6)
         AS slope_right_per100k_r,
       round(MAX(CASE WHEN side = 'R' THEN icept END)
             - MAX(CASE WHEN side = 'L' THEN icept END), 6)
         AS rd_effect_days_r
FROM fit
""",
    tags=("monitoring", "causal"),
)
def a468_regression_discontinuity(spark, sf_dir):
    """Sharp regression discontinuity at the $200k order-value
    cutoff — the causal design for threshold-triggered treatments
    (expedited handling above a value line, rate limits, free
    shipping): fit separate OLS lines of lead time on (price −
    cutoff) within a ±$100k bandwidth on each side; the gap between
    the two intercepts AT the cutoff is the treatment-effect
    estimate, and the two slopes are the specification check (wildly
    different slopes = the 'effect' is curvature, not a jump). All
    regression moments are exact BIGINT sums of dollar-scaled
    integers (cents would push Σd² past int64 at larger SFs — the
    scale choice IS the overflow budget, stated here), so the
    closed-form slope/intercept doubles agree bit-for-bit across
    engines. One fact join for outcomes, one bandwidth-pruned scan,
    one 2-row moment aggregate. TPC-H assigns priority independently
    of value, so the estimated jump ≈ 0 — the placebo-test reading."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    lead = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_orderkey").alias("ok"),
            F.round(F.col("o_totalprice"), 0).cast("bigint").alias("price_usd"),
            F.col("o_orderdate").cast("date").alias("od"),
        )
        .agg(
            F.datediff(F.max(F.col("l_shipdate").cast("date")), F.col("od"))
            .cast("bigint")
            .alias("y")
        )
    )
    band = lead.filter(
        (F.col("price_usd") >= 100000) & (F.col("price_usd") < 300000)
    ).select(
        (F.col("price_usd") - 200000).alias("d"),
        "y",
        F.when(F.col("price_usd") >= 200000, "R").otherwise("L").alias("side"),
    )
    mom = band.groupBy("side").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("d") * F.col("y")).cast("bigint").alias("sdy"),
    )
    slope = (
        F.col("n").cast("double") * F.col("sdy")
        - F.col("sd").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sdd")
        - F.col("sd").cast("double") * F.col("sd")
    )
    fit = mom.select(
        "side",
        "n",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sd")) / F.col("n")
        ).alias("icept"),
    )

    def pick(side, col):
        return F.max(F.when(F.col("side") == side, F.col(col)))

    return fit.agg(
        pick("L", "n").alias("n_left"),
        pick("R", "n").alias("n_right"),
        F.round(pick("L", "icept"), 6).alias("icept_left_r"),
        F.round(pick("R", "icept"), 6).alias("icept_right_r"),
        F.round(pick("L", "slope") * 100000.0, 6).alias(
            "slope_left_per100k_r"
        ),
        F.round(pick("R", "slope") * 100000.0, 6).alias(
            "slope_right_per100k_r"
        ),
        F.round(
            pick("R", "icept") - pick("L", "icept"), 6
        ).alias("rd_effect_days_r"),
    )


@query(
    "a469_covariate_balance_smd",
    oracle="""
WITH pool AS (
  SELECT o_orderkey AS ok, o_orderpriority AS pri,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS price_c,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 100000 AS bkt
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
), t AS (SELECT * FROM pool WHERE pri = '1-URGENT'),
c AS (SELECT * FROM pool WHERE pri = '5-LOW'),
matched AS (
  SELECT t.ok AS t_ok, t.price_c AS t_price, c.price_c AS c_price,
         row_number() OVER (PARTITION BY t.ok
           ORDER BY abs(t.price_c - c.price_c), c.ok) AS rn
  FROM t JOIN c ON c.bkt BETWEEN t.bkt - 1 AND t.bkt + 1
  WHERE abs(t.price_c - c.price_c) <= 100000
  QUALIFY rn = 1
), pre AS (
  SELECT 'pre_matching' AS stage,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_t,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_c,
         (SELECT CAST(SUM(price_c) AS BIGINT) FROM t) AS s_t,
         (SELECT CAST(SUM(price_c) AS BIGINT) FROM c) AS s_c,
         (SELECT SUM(CAST(price_c AS DOUBLE) * price_c) FROM t) AS q_t,
         (SELECT SUM(CAST(price_c AS DOUBLE) * price_c) FROM c) AS q_c
), post AS (
  SELECT 'post_matching' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_t, CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(t_price) AS BIGINT) AS s_t,
         CAST(SUM(c_price) AS BIGINT) AS s_c,
         SUM(CAST(t_price AS DOUBLE) * t_price) AS q_t,
         SUM(CAST(c_price AS DOUBLE) * c_price) AS q_c
  FROM matched
), both_ AS (
  SELECT * FROM pre UNION ALL SELECT * FROM post
)
SELECT stage, n_t, n_c,
       round((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)
             / sqrt(((q_t / n_t
                      - (CAST(s_t AS DOUBLE) / n_t)
                        * (CAST(s_t AS DOUBLE) / n_t))
                     + (q_c / n_c
                        - (CAST(s_c AS DOUBLE) / n_c)
                          * (CAST(s_c AS DOUBLE) / n_c))) / 2.0)
             , 6) AS smd_price_r
FROM both_ ORDER BY stage
""",
    tags=("monitoring", "causal"),
)
def a469_covariate_balance_smd(spark, sf_dir):
    """Covariate-balance audit via standardized mean differences —
    the table a matching study (a467) must publish before anyone
    believes its ATT: SMD = (x̄_t − x̄_c)/√((s²_t+s²_c)/2) for the
    matching covariate, BEFORE matching (raw treated vs control
    pools) and AFTER (treated vs their caliper-matched partners).
    |SMD| < 0.1 is the conventional balance bar; matching on price
    should crush the post-matching row toward 0 — and because TPC-H
    assigns priority independently of price, even the pre row sits
    near 0, which is itself the design diagnostic (already-balanced
    data ⇒ matching can't hurt). Both stages are exact-integer
    moment aggregates (the matched pairs reuse the q108 banded-
    bucket join + integer argmin from a467); pooled variances are
    IEEE-deterministic doubles of identical sums. Two shuffles and
    one rank at any scale."""
    o = table(spark, sf_dir, "orders")
    pool = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderpriority").alias("pri"),
        money("o_totalprice").alias("price_c"),
        F.expr(
            "cast(round(o_totalprice * 100.0, 0) as bigint) div 100000"
        ).alias("bkt"),
    ).localCheckpoint(eager=False)
    t = pool.filter(F.col("pri") == "1-URGENT").select(
        F.col("ok").alias("t_ok"),
        F.col("price_c").alias("t_price"),
        F.col("bkt").alias("t_bkt"),
    ).localCheckpoint(eager=False)
    c = pool.filter(F.col("pri") == "5-LOW").select(
        F.col("ok").alias("c_ok"),
        F.col("price_c").alias("c_price"),
        F.col("bkt").alias("c_bkt"),
    )
    w = Window.partitionBy("t_ok").orderBy("gap", "c_ok")
    # q108 discipline: band -> equi join via 3-bucket explode (see a467)
    t3 = t.select(
        "t_ok",
        "t_price",
        F.explode(
            F.array(
                F.col("t_bkt") - 1, F.col("t_bkt"), F.col("t_bkt") + 1
            )
        ).alias("c_bkt"),
    )
    matched = (
        t3.join(c, "c_bkt")
        .select(
            "t_ok",
            "t_price",
            "c_ok",
            "c_price",
            F.abs(F.col("t_price") - F.col("c_price")).alias("gap"),
        )
        .filter(F.col("gap") <= 100000)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )

    def moments(df, col):
        return df.agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(col).cast("bigint").alias("s"),
            F.sum(F.col(col).cast("double") * F.col(col)).alias("q"),
        )

    mt = moments(t, "t_price").select(
        F.col("n").alias("n_t"), F.col("s").alias("s_t"), F.col("q").alias("q_t")
    )
    mc = moments(c, "c_price").select(
        F.col("n").alias("n_c"), F.col("s").alias("s_c"), F.col("q").alias("q_c")
    )
    pre = (
        mt.crossJoin(F.broadcast(mc))
        .select(F.lit("pre_matching").alias("stage"), "n_t", "n_c", "s_t",
                "s_c", "q_t", "q_c")
    )
    post = matched.agg(
        F.lit("post_matching").alias("stage"),
        F.count("*").cast("bigint").alias("n_t"),
        F.count("*").cast("bigint").alias("n_c"),
        F.sum("t_price").cast("bigint").alias("s_t"),
        F.sum("c_price").cast("bigint").alias("s_c"),
        F.sum(F.col("t_price").cast("double") * F.col("t_price")).alias("q_t"),
        F.sum(F.col("c_price").cast("double") * F.col("c_price")).alias("q_c"),
    )
    both = pre.unionAll(post)
    mean_t = F.col("s_t").cast("double") / F.col("n_t")
    mean_c = F.col("s_c").cast("double") / F.col("n_c")
    var_t = F.col("q_t") / F.col("n_t") - mean_t * mean_t
    var_c = F.col("q_c") / F.col("n_c") - mean_c * mean_c
    return both.select(
        "stage",
        "n_t",
        "n_c",
        F.round(
            (mean_t - mean_c) / F.sqrt((var_t + var_c) / 2.0), 6
        ).alias("smd_price_r"),
    ).orderBy("stage")


@query(
    "a470_cochran_q",
    oracle="""
WITH users AS (
  SELECT DISTINCT user_id FROM events
), nu AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM users
), cnt AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('click', 'error', 'purchase')
  GROUP BY user_id, event_type
), tot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY event_type
), grid AS (
  SELECT u.user_id, t.event_type, t.t, COALESCE(c.c, 0) AS c
  FROM users u
  CROSS JOIN tot t
  LEFT JOIN cnt c ON c.user_id = u.user_id AND c.event_type = t.event_type
), x AS (
  SELECT g.user_id, g.event_type,
         CASE WHEN g.c * n.n > g.t THEN 1 ELSE 0 END AS x
  FROM grid g CROSS JOIN nu n
), rows_ AS (
  SELECT user_id, CAST(SUM(x) AS BIGINT) AS r FROM x GROUP BY user_id
), cols_ AS (
  SELECT event_type, CAST(SUM(x) AS BIGINT) AS cj FROM x GROUP BY event_type
), agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS n_subjects,
         (SELECT CAST(SUM(cj * cj) AS BIGINT) FROM cols_) AS sc2,
         (SELECT CAST(SUM(cj) AS BIGINT) FROM cols_) AS sc,
         (SELECT CAST(SUM(r) AS BIGINT) FROM rows_) AS sr,
         (SELECT CAST(SUM(r * r) AS BIGINT) FROM rows_) AS sr2,
         (SELECT CAST(MAX(cj) FILTER (WHERE event_type = 'click')
                 AS BIGINT) FROM cols_) AS c_click,
         (SELECT CAST(MAX(cj) FILTER (WHERE event_type = 'error')
                 AS BIGINT) FROM cols_) AS c_error,
         (SELECT CAST(MAX(cj) FILTER (WHERE event_type = 'purchase')
                 AS BIGINT) FROM cols_) AS c_purchase
)
SELECT n_subjects, c_click, c_error, c_purchase,
       CAST(2 AS BIGINT) AS df,
       round(2.0 * (3.0 * sc2 - CAST(sc AS DOUBLE) * sc)
             / NULLIF(3.0 * sr - sr2, 0.0), 6) AS q_r
FROM agg
""",
    tags=("monitoring", "stats"),
)
def a470_cochran_q(spark, sf_dir):
    """Cochran's Q test for k=3 related binary treatments — the
    repeated-measures extension of McNemar (a412, k=2 paired) that asks
    whether click / error / purchase "heavy-usage" indicators differ in
    marginal rate across the SAME subjects; distinct from
    a367_cochran_armitage, which tests a dose-response TREND in
    independent proportions, not within-subject homogeneity. Binarized
    scale-invariantly with the a412 recipe for this dense fixture
    (every user does every event type): x_ij = 1 iff the user's count
    of type j exceeds the per-type mean, decided by exact integer
    cross-multiplication (c·N > total — no float threshold at any sf).
    Q = (k−1)(k·ΣCj² − (ΣCj)²) / (k·ΣRi − ΣRi²) evaluates once from
    exact BIGINT row/column totals, so a 1000-executor partial-sum
    order can never move the statistic; the user count N enters the
    DAG as a lazy 1-row broadcast aggregate (no eager driver action —
    building this DataFrame triggers zero Spark jobs), and the
    denominator is NULLIF-guarded so a degenerate all-0/all-3
    binarization yields an explicit NULL Q in both engines; everything
    after the map-side-combined (user,type) count runs on a 150-row
    summary."""
    ev = table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    nu = users.agg(F.count("*").cast("bigint").alias("n_users"))
    cnt = (
        ev.filter(F.col("event_type").isin("click", "error", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    grid = (
        users.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nu))
        .join(cnt, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            (
                (F.coalesce(F.col("c"), F.lit(0)) * F.col("n_users"))
                > F.col("t")
            )
            .cast("int")
            .alias("x"),
        )
    )
    rows_ = grid.groupBy("user_id").agg(
        F.sum("x").cast("bigint").alias("r")
    )
    cols_ = grid.groupBy("event_type").agg(
        F.sum("x").cast("bigint").alias("cj")
    )
    ragg = rows_.agg(
        F.count("*").cast("bigint").alias("n_subjects"),
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sr2"),
    )
    cagg = cols_.agg(
        F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("sc2"),
        F.sum("cj").cast("bigint").alias("sc"),
        F.max(F.when(F.col("event_type") == "click", F.col("cj")))
        .cast("bigint")
        .alias("c_click"),
        F.max(F.when(F.col("event_type") == "error", F.col("cj")))
        .cast("bigint")
        .alias("c_error"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("cj")))
        .cast("bigint")
        .alias("c_purchase"),
    )
    agg = ragg.crossJoin(cagg)
    return agg.select(
        "n_subjects",
        "c_click",
        "c_error",
        "c_purchase",
        F.lit(2).cast("bigint").alias("df"),
        F.round(
            2.0
            * (3.0 * F.col("sc2") - F.col("sc").cast("double") * F.col("sc"))
            / F.nullif(
                3.0 * F.col("sr") - F.col("sr2"), F.lit(0.0)
            ),
            6,
        ).alias("q_r"),
    )


@query(
    "a471_mantel_haenszel",
    oracle="""
WITH cells AS (
  SELECT r.r_name AS region,
         CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                        AND c.c_acctbal > 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN c.c_mktsegment = 'BUILDING'
                        AND c.c_acctbal <= 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN c.c_mktsegment <> 'BUILDING'
                        AND c.c_acctbal > 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS cc,
         CAST(SUM(CASE WHEN c.c_mktsegment <> 'BUILDING'
                        AND c.c_acctbal <= 5000.0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM customer c
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY r.r_name
), terms AS (
  SELECT region, a, b, cc, d, a + b + cc + d AS n,
         CAST(ROUND(CAST(a AS DOUBLE) * d * 1000000000.0
                    / (a + b + cc + d), 0) AS BIGINT) AS ad_fp,
         CAST(ROUND(CAST(b AS DOUBLE) * cc * 1000000000.0
                    / (a + b + cc + d), 0) AS BIGINT) AS bc_fp,
         CAST(ROUND(CAST(a + b AS DOUBLE) * (a + cc) * 1000000000.0
                    / (a + b + cc + d), 0) AS BIGINT) AS e_fp,
         CAST(ROUND(CAST(a + b AS DOUBLE) * (cc + d) * (a + cc) * (b + d)
                    * 1000000000.0
                    / (CAST(a + b + cc + d AS DOUBLE)
                       * (a + b + cc + d) * (a + b + cc + d - 1)), 0)
              AS BIGINT) AS v_fp
  FROM cells
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
       CAST(SUM(a) AS BIGINT) AS sum_a,
       round(CAST(SUM(ad_fp) AS DOUBLE) / SUM(bc_fp), 6) AS mh_or_r,
       round(GREATEST(abs(CAST(SUM(a) AS DOUBLE)
                          - CAST(SUM(e_fp) AS DOUBLE) / 1000000000.0)
                      - 0.5, 0.0)
             * GREATEST(abs(CAST(SUM(a) AS DOUBLE)
                            - CAST(SUM(e_fp) AS DOUBLE) / 1000000000.0)
                        - 0.5, 0.0)
             / (CAST(SUM(v_fp) AS DOUBLE) / 1000000000.0), 6) AS cmh_r
FROM terms
""",
    tags=("monitoring", "stats"),
)
def a471_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel pooled odds ratio + continuity-corrected CMH
    test across region strata — the stratified 2×2 estimator that
    answers "is the BUILDING-segment / high-balance association real
    once region is controlled for", the guard against the Simpson
    reversals a407 only DETECTS. Exposure = market segment, outcome =
    account balance > 5000; each stratum collapses to one exact 2×2
    (a,b,c,d) row, per-stratum terms a·d/n, b·c/n, E[a], Var[a] are
    fixed-pointed to nano-units as BIGINTs (each a ratio of exact
    integers — bit-identical cross-engine), and the 5-term sums are
    order-independent integer adds. MH-OR = Σad/n ÷ Σbc/n; CMH =
    max(|Σa−ΣE|−½, 0)²/ΣV with the 0.5 continuity
    correction clamped at zero (a deviation under ½ scores ~0 rather
    than inflating the statistic). The
    customer table is touched once by a map-side-combined aggregate;
    the pooled statistics run on 5 summary rows."""
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region")
    exp_ = F.col("c_mktsegment") == "BUILDING"
    out_ = F.col("c_acctbal") > 5000.0
    cells = (
        cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        )
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.sum((exp_ & out_).cast("int")).cast("bigint").alias("a"),
            F.sum((exp_ & ~out_).cast("int")).cast("bigint").alias("b"),
            F.sum((~exp_ & out_).cast("int")).cast("bigint").alias("cc"),
            F.sum((~exp_ & ~out_).cast("int")).cast("bigint").alias("d"),
        )
    )
    n = F.col("a") + F.col("b") + F.col("cc") + F.col("d")
    terms = cells.select(
        "a",
        F.round(F.col("a").cast("double") * F.col("d") * 1e9 / n, 0)
        .cast("bigint")
        .alias("ad_fp"),
        F.round(F.col("b").cast("double") * F.col("cc") * 1e9 / n, 0)
        .cast("bigint")
        .alias("bc_fp"),
        F.round(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("cc"))
            * 1e9
            / n,
            0,
        )
        .cast("bigint")
        .alias("e_fp"),
        F.round(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("cc") + F.col("d"))
            * (F.col("a") + F.col("cc"))
            * (F.col("b") + F.col("d"))
            * 1e9
            / (n.cast("double") * n * (n - 1)),
            0,
        )
        .cast("bigint")
        .alias("v_fp"),
    )
    agg = terms.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum("ad_fp").cast("bigint").alias("s_ad"),
        F.sum("bc_fp").cast("bigint").alias("s_bc"),
        F.sum("e_fp").cast("bigint").alias("s_e"),
        F.sum("v_fp").cast("bigint").alias("s_v"),
    )
    dev = F.greatest(
        F.abs(F.col("sum_a").cast("double") - F.col("s_e") / 1e9) - 0.5,
        F.lit(0.0),
    )
    return agg.select(
        "n_strata",
        "sum_a",
        F.round(F.col("s_ad").cast("double") / F.col("s_bc"), 6).alias(
            "mh_or_r"
        ),
        F.round(dev * dev / (F.col("s_v") / 1e9), 6).alias("cmh_r"),
    )
