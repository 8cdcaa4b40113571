"""Date/time, JSON extraction, and event-time windowing (tumbling /
sliding / session) over the ``events`` stream-shaped table.

These run in batch mode here; the same expressions (window(),
session_window(), from_json) are Structured-Streaming-legal, so each is
directly liftable onto readStream + watermark — see
``grouper_spark.streaming``.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import md5_bits, money, money_sum
from ..operators import sessionize
from ..sources import table
from . import query
from ._sqlgen import sql_money_sum
from ..operators.core import literal_frame


@query(
    "q22_date_trunc_trend",
    oracle=f"""
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
       COUNT(*) AS n_orders,
       {sql_money_sum("o_totalprice", "revenue")}
FROM orders
GROUP BY order_month
ORDER BY order_month
""",
    tags=("date",),
)
def q22_date_trunc_trend(spark, sf_dir):
    """Monthly revenue trend via date_trunc."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(F.count("*").alias("n_orders"), money_sum("o_totalprice", "revenue"))
        .orderBy("order_month")
    )


@query(
    "q23_date_parts",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(quarter(o_orderdate) AS INT) AS order_quarter,
       COUNT(*) AS n_orders,
       CAST(MIN(day(o_orderdate)) AS INT) AS min_dom,
       CAST(MAX(day(o_orderdate)) AS INT) AS max_dom
FROM orders
GROUP BY order_year, order_quarter
ORDER BY order_year, order_quarter
""",
    tags=("date",),
)
def q23_date_parts(spark, sf_dir):
    """Calendar-part extraction (year/quarter/day-of-month)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min(F.dayofmonth("o_orderdate")).alias("min_dom"),
            F.max(F.dayofmonth("o_orderdate")).alias("max_dom"),
        )
        .orderBy("order_year", "order_quarter")
    )


@query(
    "q24_json_extract",
    oracle=f"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "total_value")}
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
""",
    tags=("json",),
)
def q24_json_extract(spark, sf_dir):
    """JSON field extraction from the props payload, bucketed aggregation."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        e.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n_events"), money_sum("value", "total_value"))
        .orderBy("k_bucket")
    )


@query(
    "q25_tumbling_window",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "total_value")}
FROM events
GROUP BY window_start
ORDER BY window_start
""",
    tags=("event_time",),
)
def q25_tumbling_window(spark, sf_dir):
    """1-hour tumbling event-time window via native window() — identical
    code works on a streaming read + withWatermark."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"), money_sum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


@query(
    "q26_sliding_window",
    oracle=f"""
WITH starts AS (
  SELECT *,
         date_trunc('hour', ts)
           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                  ELSE INTERVAL 0 MINUTE END AS base_start
  FROM events
), expanded AS (
  SELECT u.window_start, e.value
  FROM starts e,
       UNNEST([e.base_start, e.base_start - INTERVAL 30 MINUTE]) AS u(window_start)
)
SELECT window_start,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "total_value")}
FROM expanded
GROUP BY window_start
ORDER BY window_start
""",
    tags=("event_time",),
)
def q26_sliding_window(spark, sf_dir):
    """1-hour window sliding every 30 min — each event lands in 2 windows.
    Oracle expands the two window starts explicitly."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), money_sum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


@query(
    "q27_session_window",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       {sql_money_sum("value", "session_value")}
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
    tags=("event_time", "operator"),
)
def q27_session_window(spark, sf_dir):
    """Sessionization with a 30-minute inactivity gap via the reusable
    sessionize operator (lag + cumulative flag — one shuffle per key;
    same grouping Spark's native session_window produces)."""
    e = table(spark, sf_dir, "events")
    s = sessionize(e, key="user_id", ts="ts", gap_seconds=1800.0, tiebreak="event_id")
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            money_sum("value", "session_value"),
        )
        .drop("session_id")
        .orderBy("user_id", "session_start")
    )


@query(
    "q67_funnel",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.s_ts
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts
  GROUP BY e.user_id
)
SELECT COUNT(*) AS n_signup,
       COUNT(c.user_id) AS n_click_after,
       COUNT(p.user_id) AS n_purchase_after
FROM s
LEFT JOIN c ON s.user_id = c.user_id
LEFT JOIN p ON s.user_id = p.user_id
""",
    tags=("event_time", "funnel"),
)
def q67_funnel(spark, sf_dir):
    """Ordered conversion funnel signup → click → purchase: each step's
    first event must follow the previous step's. Three per-user min
    aggregations chained by key joins — every stage partitions on
    user_id, so at scale the shuffles co-locate and AQE can reuse the
    exchange."""
    e = table(spark, sf_dir, "events")
    # s and c each feed BOTH the next stage and the final funnel join;
    # checkpoint the (user-count sized) stage outputs so each stage's
    # scan+aggregate subtree executes once, not once per reference
    # (6 duplicated event scans without this)
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .localCheckpoint(eager=False)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
        .localCheckpoint(eager=False)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    funnel = s.join(c, "user_id", "left").join(p, "user_id", "left")
    return funnel.agg(
        F.count("*").alias("n_signup"),
        F.count("c_ts").alias("n_click_after"),
        F.count("p_ts").alias("n_purchase_after"),
    )


@query(
    "q80_date_arith",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
       CAST(last_day(o_orderdate) AS DATE) AS month_end,
       datediff('day', o_orderdate, DATE '2026-01-01') AS age_days,
       round(datediff('day', o_orderdate, DATE '2026-01-01') / 30.4375, 2)
         AS age_months_approx,
       CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
    tags=("date",),
)
def q80_date_arith(spark, sf_dir):
    """Date arithmetic battery: interval add, month-end, day diffs,
    approximate month age (day-count based on BOTH sides — Spark's
    months_between uses calendar months, DuckDB's datediff('month')
    counts boundary crossings; a shared day-count formula sidesteps the
    engine disagreement), ISO week truncation."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    day = F.col("o_orderdate").cast("date")
    age_days = F.datediff(F.lit("2026-01-01").cast("date"), day)
    return o.select(
        "o_orderkey",
        F.date_add(day, 30).alias("due_date"),
        F.last_day(day).alias("month_end"),
        age_days.cast("bigint").alias("age_days"),
        F.round(age_days / 30.4375, 2).alias("age_months_approx"),
        F.date_trunc("week", day).cast("date").alias("week_start"),
    ).orderBy("o_orderkey")


@query(
    "q159_time_to_convert",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT e.user_id,
         MIN(epoch_us(CAST(e.ts AS TIMESTAMP))
             - epoch_us(CAST(s.s_ts AS TIMESTAMP))) AS dt_us
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.s_ts
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       round(quantile_cont(dt_us, 0.5) / 1000000.0, 3) AS p50_s,
       round(quantile_cont(dt_us, 0.9) / 1000000.0, 3) AS p90_s
FROM p
""",
    tags=("events", "funnel"),
)
def q159_time_to_convert(spark, sf_dir):
    """Funnel latency: for every user whose first purchase follows
    their first signup, the signup→purchase delay, summarized as
    exact p50/p90. Two per-user min-aggregations on the same user_id
    key (one reused exchange), the delay carried as integer
    epoch-micros so both engines interpolate percentiles over
    identical BIGINTs; only the final display division is floating
    point. The percentile input is one row per converted user — at
    100 TB the raw log collapses before any percentile work."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_micros("ts") - F.unix_micros("s_ts")
            ).alias("dt_us")
        )
    )
    return p.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.percentile("dt_us", F.lit(0.5)) / 1000000.0, 3).alias(
            "p50_s"
        ),
        F.round(F.percentile("dt_us", F.lit(0.9)) / 1000000.0, 3).alias(
            "p90_s"
        ),
    )


@query(
    "q164_rolling_distinct_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
), days AS (
  SELECT DISTINCT d FROM ud
), contrib AS (
  SELECT ud.user_id, days.d AS target_day
  FROM ud JOIN days
    ON days.d >= ud.d AND days.d <= ud.d + INTERVAL 6 DAY
)
SELECT target_day,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
FROM contrib
GROUP BY target_day
ORDER BY target_day
""",
    tags=("events", "window"),
)
def q164_rolling_distinct_users(spark, sf_dir):
    """Rolling 7-day active users per day (the WAU curve). Sliding
    COUNT DISTINCT has no window-function form — distinct doesn't
    decompose over frames — so each (user, day) activity fact is
    EXPANDED to the <= 7 target days it contributes to (one sequence
    explode, map-side) and the answer is a plain distinct-count per
    target day. The expansion factor is the window length, not the data
    size: at 100 TB this is 7x the DISTINCT (user, day) summary — tiny
    next to the raw log — and shuffles once on the target day. The
    day-filter join in the oracle is the same contribution set built
    relationally."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    # groupBy (not distinct) so the plan carries an Aggregate node: the
    # day spine is calendar-bounded, and the Aggregate is what licenses
    # the broadcast below under tools/lint_broadcast.py
    days = ud.groupBy("d").agg(F.count(F.lit(1)).alias("__n")).select("d")
    contrib = ud.withColumn(
        "target_day",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ),
    ).join(F.broadcast(days.withColumnRenamed("d", "target_day")), "target_day")
    return (
        contrib.groupBy("target_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
        .orderBy("target_day")
    )


@query(
    "q177_sequence_trigrams",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type, 2) OVER w AS t1,
         lag(event_type, 1) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1, t2, event_type AS t3,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq
WHERE t1 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n_occurrences DESC, t1, t2, t3
LIMIT 20
""",
    tags=("events", "window"),
)
def q177_sequence_trigrams(spark, sf_dir):
    """Sequential-pattern mining, order-3: the most frequent event-type
    trigrams across user timelines, with user support counts — the
    building block behind next-action prediction features and funnel
    discovery. Two lag() frames on one (user_id)-partitioned window
    replace the cubic event⋈event⋈event self-join a naive formulation
    would run; the pattern aggregate after the window is type³-small.
    Linear in the log, one user-key shuffle."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    )
    return (
        seq.filter(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), "t1", "t2", "t3")
        .limit(20)
    )


@query(
    "q200_watermark_lateness_audit",
    oracle="""
WITH batched AS (
  SELECT event_id, event_type, ts, event_id // 1000 AS batch
  FROM events
), bmax AS (
  SELECT batch, MAX(ts) AS bmax_ts FROM batched GROUP BY batch
), wm AS (
  SELECT batch,
         MAX(bmax_ts) OVER (ORDER BY batch
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING)
           - INTERVAL 10 MINUTE AS wm_ts
  FROM bmax
)
SELECT b.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN w.wm_ts IS NOT NULL AND b.ts < w.wm_ts
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late
FROM batched b JOIN wm w ON b.batch = w.batch
GROUP BY b.event_type
ORDER BY b.event_type
""",
    tags=("events", "streaming"),
)
def q200_watermark_lateness_audit(spark, sf_dir):
    """Watermark lateness audit with Structured Streaming's ACTUAL
    trigger semantics, batch-replayed: the watermark advances BETWEEN
    micro-batches (max event time seen in prior triggers minus the
    10-minute delay), never within one, and an event is late when its
    event time is behind the watermark of its own batch. Arrival order
    is event_id; 1000 events per trigger.

    Scale shape: the only ordered computation is the running max over
    the BATCH-LEVEL table (trigger-count sized — thousands of rows for
    billions of events), built from a map-side-combining per-batch max;
    the per-event lateness test is a broadcast join of that tiny
    watermark table back onto the fact — no global ordered window over
    the corpus, which is the naive formulation that cannot scale."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    batched = ev.select(
        "event_id", "event_type", "ts", (F.col("event_id") / 1000).cast("bigint").alias("batch")
    )
    bmax = batched.groupBy("batch").agg(F.max("ts").alias("bmax_ts"))
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)
    wm = bmax.select(
        "batch",
        (F.max("bmax_ts").over(w) - F.expr("INTERVAL 10 MINUTES")).alias("wm_ts"),
    )
    return (
        batched.join(F.broadcast(wm), "batch")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.when(
                    F.col("wm_ts").isNotNull() & (F.col("ts") < F.col("wm_ts")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
        )
        .orderBy("event_type")
    )


@query(
    "q227_bounce_rate",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w IS NULL
                OR epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w
                   >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM seq
), numbered AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                               ORDER BY ts, event_id) AS rn
  FROM sess
), per_session AS (
  SELECT user_id, session_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry_type,
         COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, session_id
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS bounce_rate_r
FROM per_session
GROUP BY entry_type
ORDER BY entry_type
""",
    tags=("events", "analytics"),
)
def q227_bounce_rate(spark, sf_dir):
    """Bounce-rate by entry event type — the web-analytics readout:
    sessionize (30-min gap), take each session's ENTRY event as the
    landing dimension, and a bounce is a single-event session. The
    sessionizer and the per-session rollup share one user-key shuffle;
    entry extraction is min_by over the (ts, event_id) tuple (total
    order, so deterministic); the final rate divides exact counts."""
    ev = table(spark, sf_dir, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800, tiebreak="event_id")
    tup = F.struct(F.col("ts"), F.col("event_id"))
    per = s.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", tup).alias("entry_type"),
        F.count("*").alias("n_events"),
    )
    return (
        per.groupBy("entry_type")
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_bounces"),
            F.round(
                F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
                * 1.0
                / F.count("*"),
                6,
            ).alias("bounce_rate_r"),
        )
        .orderBy("entry_type")
    )


@query(
    "q235_nearest_event_join",
    oracle="""
WITH tl AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'signup' THEN ts END AS s_ts,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('purchase', 'signup')
), w AS (
  SELECT event_id, user_id, ts, is_p,
         last_value(s_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_p, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_ts,
         first_value(s_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_p, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_ts
  FROM tl
), g AS (
  SELECT event_id, user_id,
         epoch_us(ts) - epoch_us(back_ts) AS gap_back,
         epoch_us(fwd_ts) - epoch_us(ts) AS gap_fwd,
         back_ts, fwd_ts
  FROM w WHERE is_p = 1
)
SELECT event_id, user_id,
       CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN 'none'
            WHEN fwd_ts IS NULL
                 OR (back_ts IS NOT NULL AND gap_back <= gap_fwd)
              THEN 'back' ELSE 'fwd' END AS direction,
       CASE WHEN fwd_ts IS NULL
                 OR (back_ts IS NOT NULL AND gap_back <= gap_fwd)
              THEN back_ts ELSE fwd_ts END AS nearest_signup_ts,
       CAST(CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL
                 WHEN fwd_ts IS NULL
                      OR (back_ts IS NOT NULL AND gap_back <= gap_fwd)
                   THEN gap_back ELSE gap_fwd END AS BIGINT) AS gap_us
FROM g ORDER BY event_id
""",
    tags=("join", "asof"),
)
def q235_nearest_event_join(spark, sf_dir):
    """Nearest-in-time join (pandas merge_asof direction='nearest'):
    each purchase matched to the user's closest signup in either
    direction, ties to the earlier one. q21's backward as-of plus the
    forward complement, both from ONE union-merge pass: tag signup
    timestamps on the shared per-user timeline, take last-ignore-nulls
    over the preceding frame and first-ignore-nulls over the following
    frame, then pick the smaller exact-microsecond gap. One shuffle on
    the user key, no range self-join, no candidate explosion — the
    formulation survives any corpus size because each row looks at two
    O(1) window states. Equal-timestamp signups sort before purchases,
    so 'at-or-before' wins ties deterministically."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    tl = e.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("s_ts"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    order = [F.col("ts"), F.col("is_p"), F.col("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    w = tl.select(
        "event_id",
        "user_id",
        "ts",
        "is_p",
        F.last("s_ts", ignorenulls=True).over(wb).alias("back_ts"),
        F.first("s_ts", ignorenulls=True).over(wf).alias("fwd_ts"),
    )
    g = w.filter(F.col("is_p") == 1).select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("back_ts")).alias("gap_back"),
        (F.unix_micros("fwd_ts") - F.unix_micros("ts")).alias("gap_fwd"),
        "back_ts",
        "fwd_ts",
    )
    take_back = F.col("fwd_ts").isNull() | (
        F.col("back_ts").isNotNull() & (F.col("gap_back") <= F.col("gap_fwd"))
    )
    none = F.col("back_ts").isNull() & F.col("fwd_ts").isNull()
    return g.select(
        "event_id",
        "user_id",
        F.when(none, "none")
        .when(take_back, "back")
        .otherwise("fwd")
        .alias("direction"),
        F.when(take_back, F.col("back_ts"))
        .otherwise(F.col("fwd_ts"))
        .alias("nearest_signup_ts"),
        F.when(none, F.lit(None))
        .when(take_back, F.col("gap_back"))
        .otherwise(F.col("gap_fwd"))
        .cast("bigint")
        .alias("gap_us"),
    ).orderBy("event_id")


@query(
    "q236_multitouch_attribution",
    oracle="""
WITH tl AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN event_id END AS p_eid,
         CASE WHEN event_type = 'purchase' THEN ts END AS p_ts,
         CASE WHEN event_type = 'purchase'
              THEN CAST(ROUND(value * 100.0, 0) AS BIGINT) END AS p_cents
  FROM events WHERE event_type IN ('purchase', 'view', 'click')
), nxt AS (
  SELECT event_id, user_id, ts, event_type,
         first_value(p_eid IGNORE NULLS) OVER wf AS nxt_eid,
         first_value(p_ts IGNORE NULLS) OVER wf AS nxt_ts,
         first_value(p_cents IGNORE NULLS) OVER wf AS nxt_cents
  FROM tl
  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), touches AS (
  SELECT * FROM nxt
  WHERE event_type IN ('view', 'click') AND nxt_eid IS NOT NULL
    AND epoch_us(nxt_ts) - epoch_us(ts) <= 604800000000
), scored AS (
  SELECT event_type, nxt_eid, nxt_cents,
         CAST(COUNT(*) OVER (PARTITION BY nxt_eid) AS BIGINT) AS n_t,
         row_number() OVER (PARTITION BY nxt_eid
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM touches
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT nxt_eid) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(ROUND(nxt_cents * 1000.0 / n_t, 0) AS BIGINT))
            AS BIGINT) AS linear_milli,
       CAST(SUM(CASE WHEN rn = 1 THEN nxt_cents ELSE 0 END)
            AS BIGINT) AS last_touch_cents
FROM scored GROUP BY event_type ORDER BY event_type
""",
    tags=("events", "attribution"),
)
def q236_multitouch_attribution(spark, sf_dir):
    """Multi-touch conversion attribution: every view/click within 7
    days before a user's purchase shares that purchase's value — linear
    (equal split, exact milli-cents) and last-touch (winner takes all)
    models side by side, reported per touch type. The "next purchase"
    for every touch comes from ONE first-ignore-nulls window over the
    per-user timeline (no event-to-purchase range join, which would
    explode on hot users); the per-purchase touch count and last-touch
    flag are two more windows keyed on the globally-unique purchase id.
    Linear shares round once per (purchase, n) pair — an identical
    double division in both engines — then aggregate as exact BIGINTs.
    Two shuffles total (user key, purchase key), both on keys the data
    is already concentrated around."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    tl = e.filter(
        F.col("event_type").isin("purchase", "view", "click")
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(is_p, F.col("event_id")).alias("p_eid"),
        F.when(is_p, F.col("ts")).alias("p_ts"),
        F.when(is_p, money("value")).alias("p_cents"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = tl.select(
        "event_id",
        "ts",
        "event_type",
        F.first("p_eid", ignorenulls=True).over(wf).alias("nxt_eid"),
        F.first("p_ts", ignorenulls=True).over(wf).alias("nxt_ts"),
        F.first("p_cents", ignorenulls=True).over(wf).alias("nxt_cents"),
    )
    touches = nxt.filter(
        F.col("event_type").isin("view", "click")
        & F.col("nxt_eid").isNotNull()
        & (
            (F.unix_micros("nxt_ts") - F.unix_micros("ts"))
            <= 604800000000
        )
    )
    wp = Window.partitionBy("nxt_eid")
    wr = Window.partitionBy("nxt_eid").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    scored = touches.select(
        "event_type",
        "nxt_eid",
        "nxt_cents",
        F.count("*").over(wp).cast("bigint").alias("n_t"),
        F.row_number().over(wr).alias("rn"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.count_distinct("nxt_eid").cast("bigint").alias("n_purchases"),
            F.sum(
                F.round(F.col("nxt_cents") * 1000.0 / F.col("n_t"), 0).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("linear_milli"),
            F.sum(F.when(F.col("rn") == 1, F.col("nxt_cents")).otherwise(0))
            .cast("bigint")
            .alias("last_touch_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "q245_kaplan_meier",
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
  SELECT s.user_id,
         CAST(CASE WHEN c.p_ts IS NOT NULL
              THEN (epoch_us(c.p_ts) - epoch_us(s.s_ts)) // 86400000000
              ELSE (epoch_us(s.last_ts) - epoch_us(s.s_ts)) // 86400000000
              END AS BIGINT) AS t_days,
         CASE WHEN c.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM signed s LEFT JOIN conv c ON c.user_id = s.user_id
), tt AS (
  SELECT t_days,
         CAST(SUM(ev) AS BIGINT) AS n_events,
         CAST(SUM(1 - ev) AS BIGINT) AS n_censored
  FROM subj GROUP BY t_days
), risk AS (
  SELECT t_days, n_events, n_censored,
         CAST(SUM(n_events + n_censored) OVER () 
              - COALESCE(SUM(n_events + n_censored) OVER (
                  ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM tt
), lnterms AS (
  SELECT t_days, n_events, n_censored, n_at_risk,
         CASE WHEN n_events > 0 AND n_events < n_at_risk
              THEN CAST(ROUND(ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk)
                              * 1000000.0, 0) AS BIGINT)
              WHEN n_events > 0 THEN CAST(-99000000 AS BIGINT)
              ELSE 0 END AS ln_micro
  FROM risk
)
SELECT t_days, n_at_risk, n_events, n_censored,
       CAST(SUM(ln_micro) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS surv_ln_micro,
       round(exp(CAST(SUM(ln_micro) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 1000000.0), 4) AS survival_r
FROM lnterms
ORDER BY t_days
""",
    tags=("events", "stats"),
)
def q245_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-first-purchase after
    signup, with right-censoring at each non-converting user's last
    observed event — the churn/conversion estimator that handles "hasn't
    converted YET" correctly, where a naive conversion-rate cut-off
    can't. Subjects collapse to one (t_days, event) row each (two
    user-keyed aggregations), the day-level risk table comes from
    running sums over that tiny summary, and the product-limit estimator
    is a running SUM of per-day ln(1 - d/n) terms fixed-pointed to
    micro-units before accumulation (the q152/q156 recipe — products
    become exact integer sums; deaths-before-censoring at ties, the
    standard convention). surv_ln_micro is the engine-exact artifact;
    survival_r is its 4-dp exp for humans. At 100 TB the event log never
    survives past the per-user aggregate."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "s_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    signed = base.filter(F.col("s_ts").isNotNull()).localCheckpoint(
        eager=False
    )
    conv = (
        signed.join(
            e.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .filter(F.col("pts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("p_ts"))
    )
    day = 86400000000
    subj = signed.join(conv, "user_id", "left").select(
        F.when(
            F.col("p_ts").isNotNull(),
            F.expr(f"(unix_micros(p_ts) - unix_micros(s_ts)) div {day}"),
        )
        .otherwise(
            F.expr(f"(unix_micros(last_ts) - unix_micros(s_ts)) div {day}")
        )
        .cast("bigint")
        .alias("t_days"),
        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tt = subj.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("n_censored"),
    )
    w_all = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prior = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    both = F.col("n_events") + F.col("n_censored")
    risk = tt.select(
        "t_days",
        "n_events",
        "n_censored",
        (
            F.sum(both).over(w_all)
            - F.coalesce(F.sum(both).over(w_prior), F.lit(0))
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    # d == n at the final event time would be ln(0): the survival curve
    # hits exactly zero there — encode it as a -99 ln sentinel (exp -> 0
    # at any rounding) identically in both engines.
    ln_micro = (
        F.when(
            (F.col("n_events") > 0)
            & (F.col("n_events") < F.col("n_at_risk")),
            money(
                F.log(
                    1.0
                    - F.col("n_events").cast("double") / F.col("n_at_risk")
                ),
                6,
            ),
        )
        .when(F.col("n_events") > 0, F.lit(-99000000).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
    )
    terms = risk.withColumn("ln_micro", ln_micro)
    cum = F.sum("ln_micro").over(w_cum).cast("bigint")
    return terms.select(
        "t_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        cum.alias("surv_ln_micro"),
        F.round(F.exp(cum.cast("double") / 1000000.0), 4).alias(
            "survival_r"
        ),
    ).orderBy("t_days")


@query(
    "q247_event_pattern_match",
    oracle="""
WITH tl AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN ts END AS p_ts,
         CASE WHEN event_type = 'error' THEN ts END AS e_ts
  FROM events
), nxt AS (
  SELECT event_id, user_id, ts, event_type,
         first_value(p_ts IGNORE NULLS) OVER wf AS np_ts,
         first_value(e_ts IGNORE NULLS) OVER wf AS ne_ts
  FROM tl
  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), matches AS (
  SELECT CAST(ts AS DATE) AS day,
         CASE WHEN np_ts IS NOT NULL
                   AND epoch_us(np_ts) - epoch_us(ts) <= 3600000000
                   AND (ne_ts IS NULL OR ne_ts > np_ts)
              THEN 1 ELSE 0 END AS hit
  FROM nxt WHERE event_type = 'click'
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(SUM(hit) AS BIGINT) AS n_matched,
       round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS match_rate
FROM matches GROUP BY day ORDER BY day
""",
    tags=("events", "cep"),
)
def q247_event_pattern_match(spark, sf_dir):
    """Complex-event pattern matching (the MATCH_RECOGNIZE shape Spark
    lacks): CLICK followed by PURCHASE within one hour with NO ERROR in
    between, reported as a per-day match rate. The NFA formulation
    collapses to two first-ignore-nulls windows over the per-user
    timeline — next purchase and next error after each click — and the
    pattern predicate becomes pure codegen arithmetic: matched iff the
    purchase arrives inside the horizon and strictly precedes any
    error. One shuffle on the user key, no self-joins, no state
    machine; negation ("without C between") costs exactly one more
    window column, where a join formulation would need an anti-join
    per negated symbol. The q235/q236 timeline machinery applied to
    sequence-pattern semantics."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    tl = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
        F.when(F.col("event_type") == "error", F.col("ts")).alias("e_ts"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = tl.select(
        "ts",
        "event_type",
        F.first("p_ts", ignorenulls=True).over(wf).alias("np_ts"),
        F.first("e_ts", ignorenulls=True).over(wf).alias("ne_ts"),
    )
    hit = (
        F.col("np_ts").isNotNull()
        & ((F.unix_micros("np_ts") - F.unix_micros("ts")) <= 3600000000)
        & (F.col("ne_ts").isNull() | (F.col("ne_ts") > F.col("np_ts")))
    ).cast("int")
    matches = nxt.filter(F.col("event_type") == "click").select(
        F.col("ts").cast("date").alias("day"), hit.alias("hit")
    )
    return (
        matches.groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("n_clicks"),
            F.sum("hit").cast("bigint").alias("n_matched"),
            F.round(F.sum("hit") / F.count("*"), 6).alias("match_rate"),
        )
        .orderBy("day")
    )


_FUNNEL_STEPS = (("view", "click"), ("click", "purchase"))


@query(
    "q268_funnel_step_significance",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('fz|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS variant,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'view'
                        THEN 1 ELSE 0 END) >= 10 THEN 1 ELSE 0 END
              AS INT) AS did_view,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'click'
                        THEN 1 ELSE 0 END) >= 12 THEN 1 ELSE 0 END
              AS INT) AS did_click,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END
              AS INT) AS did_purchase
  FROM events GROUP BY user_id
), steps AS (
  SELECT variant, 'view->click' AS step,
         CAST(SUM(did_view) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN did_view = 1 AND did_click = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
  FROM per_user GROUP BY variant
  UNION ALL
  SELECT variant, 'click->purchase',
         CAST(SUM(did_click) AS BIGINT),
         CAST(SUM(CASE WHEN did_click = 1 AND did_purchase = 1
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM per_user GROUP BY variant
), wide AS (
  SELECT step,
         MAX(CASE WHEN variant = 0 THEN n_base END) AS b0,
         MAX(CASE WHEN variant = 0 THEN n_conv END) AS c0,
         MAX(CASE WHEN variant = 1 THEN n_base END) AS b1,
         MAX(CASE WHEN variant = 1 THEN n_conv END) AS c1
  FROM steps GROUP BY step
)
SELECT step,
       CAST(b0 AS BIGINT) AS n_base_a, CAST(c0 AS BIGINT) AS n_conv_a,
       CAST(b1 AS BIGINT) AS n_base_b, CAST(c1 AS BIGINT) AS n_conv_b,
       round(CAST(c0 AS DOUBLE) / b0, 6) AS rate_a,
       round(CAST(c1 AS DOUBLE) / b1, 6) AS rate_b,
       CASE WHEN c0 + c1 > 0 AND c0 + c1 < b0 + b1
            THEN round((CAST(c0 AS DOUBLE) / b0 - CAST(c1 AS DOUBLE) / b1)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (b0 + b1))
                        * (1.0 - CAST(c0 + c1 AS DOUBLE) / (b0 + b1))
                        * (1.0 / b0 + 1.0 / b1)), 6)
            END AS z_r
FROM wide ORDER BY step
""",
    tags=("events", "funnel", "experimentation"),
)
def q268_funnel_step_significance(spark, sf_dir):
    """Per-step funnel significance: each funnel transition
    (view→click, click→purchase) becomes its own two-proportion z-test
    between deterministic md5 A/B arms — the readout that localizes
    WHERE in the funnel a treatment moved behavior, instead of one
    end-to-end rate that averages the effect away. One user-keyed
    aggregate flattens the log to per-user step flags; step rates per
    arm are sums over that summary; the pooled z is the q219 closed
    form applied per step. Exact integer counts everywhere, doubles
    only in the final expressions — two shuffles total regardless of
    log size."""
    ev = table(spark, sf_dir, "events")
    variant = (
        md5_bits(F.concat(F.lit("fz|"), F.col("user_id").cast("string")), 8)
        % 2
    ).cast("int")
    # engagement-depth step flags (>= N events of the type): the flat
    # did-it-ever flags are degenerate on this fixture (every user does
    # everything), and a z-test over a zero-variance pool is undefined
    thresholds = {"view": 10, "click": 12, "purchase": 14}
    per_user = ev.groupBy("user_id").agg(
        *[
            (
                F.sum((F.col("event_type") == t).cast("int")) >= n
            ).cast("int").alias(f"did_{t}")
            for t, n in thresholds.items()
        ]
    ).select(variant.alias("variant"), "did_view", "did_click", "did_purchase")
    parts = []
    for a, b in _FUNNEL_STEPS:
        parts.append(
            per_user.groupBy("variant").agg(
                F.lit(f"{a}->{b}").alias("step"),
                F.sum(f"did_{a}").cast("bigint").alias("n_base"),
                F.sum(
                    (
                        (F.col(f"did_{a}") == 1) & (F.col(f"did_{b}") == 1)
                    ).cast("int")
                )
                .cast("bigint")
                .alias("n_conv"),
            )
        )
    steps = parts[0].unionAll(parts[1])
    wide = steps.groupBy("step").agg(
        F.max(F.when(F.col("variant") == 0, F.col("n_base"))).alias("b0"),
        F.max(F.when(F.col("variant") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n_base"))).alias("b1"),
        F.max(F.when(F.col("variant") == 1, F.col("n_conv"))).alias("c1"),
    )
    r0 = F.col("c0").cast("double") / F.col("b0")
    r1 = F.col("c1").cast("double") / F.col("b1")
    pool = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("b0") + F.col("b1")
    )
    z = F.when(
        ((F.col("c0") + F.col("c1")) > 0)
        & ((F.col("c0") + F.col("c1")) < (F.col("b0") + F.col("b1"))),
        F.round(
            (r0 - r1)
            / F.sqrt(
                pool
                * (1.0 - pool)
                * (1.0 / F.col("b0") + 1.0 / F.col("b1"))
            ),
            6,
        ),
    )
    return wide.select(
        "step",
        F.col("b0").cast("bigint").alias("n_base_a"),
        F.col("c0").cast("bigint").alias("n_conv_a"),
        F.col("b1").cast("bigint").alias("n_base_b"),
        F.col("c1").cast("bigint").alias("n_conv_b"),
        F.round(r0, 6).alias("rate_a"),
        F.round(r1, 6).alias("rate_b"),
        z.alias("z_r"),
    ).orderBy("step")


@query(
    "q278_seasonal_index",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS cents
  FROM events GROUP BY day, iso_dow
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(cents) AS BIGINT) AS all_cents
  FROM daily
)
SELECT d.iso_dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(d.cents) AS BIGINT) AS cents,
       round((CAST(SUM(d.cents) AS DOUBLE) / COUNT(*))
             / (CAST(t.all_cents AS DOUBLE) / t.n_days), 6) AS index_r
FROM daily d CROSS JOIN tot t
GROUP BY d.iso_dow, t.all_cents, t.n_days
ORDER BY d.iso_dow
""",
    tags=("events", "timeseries"),
)
def q278_seasonal_index(spark, sf_dir):
    """Multiplicative day-of-week seasonal index — the retail
    seasonality table behind de-seasonalized targets and staffing
    curves: each ISO weekday's mean daily purchase revenue divided by
    the overall daily mean (index 1.0 = typical day). Summary-first as
    ever: one shuffle to the (day, dow, cents) spine, a broadcast
    1-row total, exact integer sums with two divisions in the final
    expression. ISO day numbering on both sides (the q256 lesson:
    engine-native dayofweek enumerations disagree)."""
    ev = table(spark, sf_dir, "events")
    cents = F.when(
        F.col("event_type") == "purchase",
        money("value"),
    ).otherwise(0)
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.dayofweek(F.col("ts").cast("date")).alias("spark_dow"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    # Spark dayofweek: 1=Sun..7=Sat -> ISO 1=Mon..7=Sun
    iso = F.when(F.col("spark_dow") == 1, 7).otherwise(
        F.col("spark_dow") - 1
    ).cast("int")
    daily = daily.select("day", iso.alias("iso_dow"), "cents")
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("all_cents"),
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .groupBy("iso_dow", "all_cents", "n_days")
        .agg(
            F.count("*").cast("bigint").alias("n_dow_days"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            "iso_dow",
            F.col("n_dow_days").alias("n_days"),
            "cents",
            F.round(
                (F.col("cents").cast("double") / F.col("n_dow_days"))
                / (F.col("all_cents").cast("double") / F.col("n_days")),
                6,
            ).alias("index_r"),
        )
        .orderBy("iso_dow")
    )


@query(
    "q291_activity_heatmap",
    oracle="""
WITH cells AS (
  SELECT CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY iso_dow, hod
), tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS all_events FROM cells
)
SELECT c.iso_dow, c.hod, c.n_events, c.n_users,
       round(CAST(c.n_events AS DOUBLE) / t.all_events, 6) AS share_r
FROM cells c CROSS JOIN tot t
ORDER BY c.iso_dow, c.hod
""",
    tags=("events", "analytics"),
)
def q291_activity_heatmap(spark, sf_dir):
    """Day-of-week x hour-of-day activity heatmap — the ubiquitous ops
    dashboard feed (when do users show up, when to schedule
    maintenance, when does fraud spike). One map-side-combined groupBy
    collapses any event volume to at most 168 cells with exact event
    and distinct-user counts; shares come off a broadcast total. ISO
    day numbering on both engines (q256/q278 lesson). The exact
    per-cell COUNT DISTINCT is the one corpus-shuffle-bearing piece —
    swap to approx_count_distinct when user cardinality per cell makes
    exactness not worth it."""
    ev = table(spark, sf_dir, "events")
    iso = F.when(F.dayofweek(F.col("ts").cast("date")) == 1, 7).otherwise(
        F.dayofweek(F.col("ts").cast("date")) - 1
    ).cast("int")
    cells = ev.groupBy(
        iso.alias("iso_dow"), F.hour("ts").cast("int").alias("hod")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    tot = cells.agg(F.sum("n_events").cast("bigint").alias("all_events"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "iso_dow",
            "hod",
            "n_events",
            "n_users",
            F.round(
                F.col("n_events").cast("double") / F.col("all_events"), 6
            ).alias("share_r"),
        )
        .orderBy("iso_dow", "hod")
    )


@query(
    "q293_session_gap_sensitivity",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events
), spine AS (
  SELECT CAST(g.g AS BIGINT) AS gap_minutes
  FROM (VALUES (5), (15), (30), (60), (120)) g(g)
), users AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
), breaks AS (
  SELECT s.gap_minutes,
         CAST(SUM(CASE WHEN g.gap_us > s.gap_minutes * 60000000
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
  FROM gaps g CROSS JOIN spine s
  WHERE g.gap_us IS NOT NULL
  GROUP BY s.gap_minutes
)
SELECT b.gap_minutes,
       CAST(b.n_breaks + u.n_users AS BIGINT) AS n_sessions,
       round(CAST(b.n_breaks + u.n_users AS DOUBLE) / u.n_users, 6)
         AS sessions_per_user_r
FROM breaks b CROSS JOIN users u
ORDER BY b.gap_minutes
""",
    tags=("events", "session"),
)
def q293_session_gap_sensitivity(spark, sf_dir):
    """Session-timeout sensitivity curve: total session count under
    five candidate inactivity gaps (5m-2h), from ONE pass — the
    empirical basis for choosing the 30-minute default everyone
    copies blindly. The identity doing the work: sessions(g) =
    users + #(inter-event gaps > g), so instead of re-sessionizing
    per candidate (five window passes over the log), one lag() pass
    extracts every inter-event gap and a broadcast spine classifies
    all five thresholds in the same aggregate. Where the curve stops
    flattening is where the timeout belongs. Exact microsecond gaps,
    exact counts; one user-keyed shuffle total."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        )
    ).filter(F.col("gap_us").isNotNull())
    spine = literal_frame(
        spark,
        [(5,), (15,), (30,), (60,), (120,)], "gap_minutes bigint"
    )
    users = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    breaks = (
        gaps.crossJoin(F.broadcast(spine))
        .groupBy("gap_minutes")
        .agg(
            F.sum(
                (
                    F.col("gap_us") > F.col("gap_minutes") * 60000000
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_breaks")
        )
    )
    return (
        breaks.crossJoin(F.broadcast(users))
        .select(
            "gap_minutes",
            (F.col("n_breaks") + F.col("n_users"))
            .cast("bigint")
            .alias("n_sessions"),
            F.round(
                (F.col("n_breaks") + F.col("n_users")).cast("double")
                / F.col("n_users"),
                6,
            ).alias("sessions_per_user_r"),
        )
        .orderBy("gap_minutes")
    )


@query(
    "q301_logrank_test",
    oracle="""
WITH base AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('lr|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS arm,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
         MAX(ts) AS last_ts
  FROM events GROUP BY user_id
), signed AS (
  SELECT user_id, arm, s_ts, last_ts FROM base WHERE s_ts IS NOT NULL
), conv AS (
  SELECT s.user_id, MIN(e.ts) AS p_ts
  FROM signed s JOIN events e
    ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.s_ts
  GROUP BY s.user_id
), subj AS (
  SELECT s.arm,
         CAST(CASE WHEN c.p_ts IS NOT NULL
              THEN (epoch_us(c.p_ts) - epoch_us(s.s_ts)) // 86400000000
              ELSE (epoch_us(s.last_ts) - epoch_us(s.s_ts)) // 86400000000
              END AS BIGINT) AS t_days,
         CASE WHEN c.p_ts IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM signed s LEFT JOIN conv c ON c.user_id = s.user_id
), tt AS (
  SELECT t_days,
         CAST(SUM(ev) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
         CAST(COUNT(*) AS BIGINT) AS leave_all,
         CAST(SUM(arm) AS BIGINT) AS leave_1
  FROM subj GROUP BY t_days
), risk AS (
  SELECT t_days, d, d1,
         CAST(SUM(leave_all) OVER () - COALESCE(SUM(leave_all) OVER (
           ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS n,
         CAST(SUM(leave_1) OVER () - COALESCE(SUM(leave_1) OVER (
           ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
           AND 1 PRECEDING), 0) AS BIGINT) AS n1
  FROM tt
), terms AS (
  SELECT d1,
         CAST(ROUND(CAST(d AS DOUBLE) * n1 / n * 1000000.0, 0)
              AS BIGINT) AS e1_micro,
         CASE WHEN n > 1 THEN
           CAST(ROUND(CAST(d AS DOUBLE) * n1 / n * (n - n1) / n
                      * (n - d) / (n - 1) * 1000000.0, 0) AS BIGINT)
           ELSE 0 END AS v_micro
  FROM risk WHERE d > 0
)
SELECT CAST(SUM(d1) AS BIGINT) AS observed_1,
       round(CAST(SUM(e1_micro) AS DOUBLE) / 1000000.0, 6) AS expected_1_r,
       round((CAST(SUM(d1) AS DOUBLE)
              - CAST(SUM(e1_micro) AS DOUBLE) / 1000000.0)
             * (CAST(SUM(d1) AS DOUBLE)
                - CAST(SUM(e1_micro) AS DOUBLE) / 1000000.0)
             / (CAST(SUM(v_micro) AS DOUBLE) / 1000000.0), 6)
         AS chi2_r
FROM terms
""",
    tags=("events", "stats", "survival"),
)
def q301_logrank_test(spark, sf_dir):
    """Log-rank test: do the two md5 experiment arms have the SAME
    time-to-first-purchase survival curve? The hypothesis test that
    belongs to q245's Kaplan-Meier estimator — comparing entire
    survival curves, not a point-in-time rate, so late-acting effects
    aren't averaged away. Per event day: observed arm-1 conversions vs
    the hypergeometric expectation d*n1/n and its variance, each term
    micro-fixed before the cross-day sums (at-risk counts come from
    the same exclusive-prefix windows as q245), then one chi-square.
    All corpus-sized work is the two user-keyed aggregates; the test
    itself runs on the day summary."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    arm = (
        md5_bits(F.concat(F.lit("lr|"), F.col("user_id").cast("string")), 8)
        % 2
    ).cast("int")
    base = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "s_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    signed = (
        base.filter(F.col("s_ts").isNotNull())
        .withColumn("arm", arm)
        .localCheckpoint(eager=False)
    )
    conv = (
        signed.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .filter(F.col("pts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("p_ts"))
    )
    day = 86400000000
    subj = signed.join(conv, "user_id", "left").select(
        "arm",
        F.when(
            F.col("p_ts").isNotNull(),
            F.expr(f"(unix_micros(p_ts) - unix_micros(s_ts)) div {day}"),
        )
        .otherwise(
            F.expr(f"(unix_micros(last_ts) - unix_micros(s_ts)) div {day}")
        )
        .cast("bigint")
        .alias("t_days"),
        F.when(F.col("p_ts").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tt = subj.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("ev")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.count("*").cast("bigint").alias("leave_all"),
        F.sum("arm").cast("bigint").alias("leave_1"),
    )
    w_all = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_prior = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = tt.select(
        "t_days",
        "d",
        "d1",
        (
            F.sum("leave_all").over(w_all)
            - F.coalesce(F.sum("leave_all").over(w_prior), F.lit(0))
        )
        .cast("bigint")
        .alias("n"),
        (
            F.sum("leave_1").over(w_all)
            - F.coalesce(F.sum("leave_1").over(w_prior), F.lit(0))
        )
        .cast("bigint")
        .alias("n1"),
    ).filter(F.col("d") > 0)
    nd = F.col("n").cast("double")
    e1 = F.col("d").cast("double") * F.col("n1") / nd
    v = F.when(
        F.col("n") > 1,
        money(
            e1
            * (F.col("n") - F.col("n1"))
            / nd
            * (F.col("n") - F.col("d"))
            / (F.col("n") - 1),
            6,
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    terms = risk.select(
        "d1",
        money(e1, 6).alias("e1_micro"),
        v.alias("v_micro"),
    )
    o1 = F.sum("d1").cast("double")
    e1s = F.sum("e1_micro").cast("double") / 1e6
    vs = F.sum("v_micro").cast("double") / 1e6
    return terms.agg(
        F.sum("d1").cast("bigint").alias("observed_1"),
        F.round(e1s, 6).alias("expected_1_r"),
        F.round((o1 - e1s) * (o1 - e1s) / vs, 6).alias("chi2_r"),
    )


@query(
    "q314_novelty_rate",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
  FROM events GROUP BY day
), novelty AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM firsts GROUP BY first_day
)
SELECT d.day, d.n_active,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
       round(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / d.n_active, 6)
         AS novelty_r,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS known_users_cum
FROM daily d LEFT JOIN novelty n ON n.day = d.day
ORDER BY d.day
""",
    tags=("events", "analytics"),
)
def q314_novelty_rate(spark, sf_dir):
    """Daily novelty rate: what fraction of each day's active users is
    seen for the FIRST time — the growth-vs-retention decomposition in
    one column (novelty near 1 = acquisition-driven, near 0 = a
    retained base), plus the cumulative known-user curve. First-seen
    days come from one min-aggregate (the q243 Heaps technique on
    users instead of tokens — never a cumulative distinct), daily
    actives from one distinct count, and the join + running sum
    operate on the calendar summary. Two shuffles on the user key,
    windows over days."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count_distinct("user_id").cast("bigint").alias("n_active")
    )
    novelty = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(novelty, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            F.round(
                F.col("n_new").cast("double") / F.col("n_active"), 6
            ).alias("novelty_r"),
            F.sum("n_new").over(w).cast("bigint").alias("known_users_cum"),
        )
        .orderBy("day")
    )


@query(
    "q324_growth_accounting",
    oracle="""
WITH weekly AS (
  SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS wk
  FROM events
), flags AS (
  SELECT user_id, wk,
         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
         MIN(wk) OVER (PARTITION BY user_id) AS first_wk
  FROM weekly
), classified AS (
  SELECT wk,
         CASE WHEN wk = first_wk THEN 'new'
              WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM flags
), churn AS (
  SELECT wk + INTERVAL 7 DAY AS wk, 'churned' AS state
  FROM flags f
  WHERE NOT EXISTS (
    SELECT 1 FROM weekly w
    WHERE w.user_id = f.user_id AND w.wk = f.wk + INTERVAL 7 DAY)
    AND f.wk + INTERVAL 7 DAY <= (SELECT MAX(wk) FROM weekly)
)
SELECT CAST(wk AS DATE) AS week, state,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM (SELECT wk, state FROM classified
      UNION ALL SELECT wk, state FROM churn)
GROUP BY week, state
ORDER BY week, state
""",
    tags=("events", "analytics", "growth"),
)
def q324_growth_accounting(spark, sf_dir):
    """Growth accounting (the new/retained/resurrected/churned
    decomposition): every weekly active user is classified by whether
    this is their first week, a consecutive week, or a comeback, and
    churn rows count users active in week w but absent in w+1 — the
    identity actives(w) = new + retained + resurrected and
    actives(w) - actives(w+1) + new(w+1) + resurrected(w+1) =
    churned(w+1) that turns a flat MAU chart into an explanation. One
    distinct (user, week) collapse, lag/min windows per user, and the
    churn anti-condition is a per-user lead check — no self-join of
    the activity log. The final week emits no churn (unknowable
    yet)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    weekly = (
        ev.select(
            "user_id",
            F.date_trunc("week", F.col("ts").cast("date")).alias("wk"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("user_id").orderBy("wk")
    wall = Window.partitionBy("user_id")
    flags = weekly.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
        F.min("wk").over(wall).alias("first_wk"),
    )
    classified = flags.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(
            F.col("prev_wk") == F.col("wk") - F.expr("INTERVAL 7 DAY"),
            "retained",
        )
        .otherwise("resurrected")
        .alias("state"),
    )
    max_wk = weekly.agg(F.max("wk").alias("max_wk"))
    churn = (
        flags.crossJoin(F.broadcast(max_wk))
        .filter(
            (
                F.col("next_wk").isNull()
                | (
                    F.col("next_wk")
                    != F.col("wk") + F.expr("INTERVAL 7 DAY")
                )
            )
            & (
                F.col("wk") + F.expr("INTERVAL 7 DAY")
                <= F.col("max_wk")
            )
        )
        .select(
            (F.col("wk") + F.expr("INTERVAL 7 DAY")).alias("wk"),
            F.lit("churned").alias("state"),
        )
    )
    return (
        classified.unionAll(churn)
        .groupBy(F.col("wk").cast("date").alias("week"), "state")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("week", "state")
    )


@query(
    "a376_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), islands AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (
           PARTITION BY user_id ORDER BY day) AS INT) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
  FROM islands GROUP BY user_id, island
), best AS (
  SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak
  FROM streaks GROUP BY user_id
)
SELECT max_streak,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM best
GROUP BY max_streak
ORDER BY max_streak
""",
    tags=("events", "sessionization"),
)
def a376_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: longest consecutive-day activity streak per
    user, rolled into a streak-length distribution — the engagement
    number behind "7-day streak" product mechanics, and the canonical
    islands idiom: on distinct (user, day) rows, day − row_number is
    CONSTANT within a consecutive run, so one window + one groupBy
    finds every island with no self-join and no date spine. One
    user-key shuffle (window), two summary aggregates; the
    distribution output is bounded by the calendar length at any user
    count."""
    ev = table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    islands = days.select(
        "user_id",
        "day",
        F.date_sub(
            "day",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("day"))
            .cast("int"),
        ).alias("island"),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").cast("bigint").alias("len")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("max_streak")
    )
    return (
        best.groupBy("max_streak")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("max_streak")
    )

