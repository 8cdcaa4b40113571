"""Temporal battery: CDC changelog compaction, sweep-line concurrency,
SCD2 validity intervals, PageRank over the transition graph, and
equi-depth histograms.

These are the time-ordered shapes a lakehouse pipeline runs on event
logs. Every operator is one window-shuffle on its natural key (user_id /
event_type) plus a small aggregate — no self-joins on the raw log, no
driver-side collection. The PageRank query demonstrates the iterative-
algorithm pattern (tiny rank state, distributed edge extraction) used by
label propagation in operators/dedup.py:294.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import money
from ..sources import table
from . import query
from ..operators.core import literal_frame


@query(
    "q116_cdc_upsert",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       event_type AS last_type,
       CAST(ROUND(value * 100.0, 0) AS BIGINT) AS value_cents,
       CAST(ts AS TIMESTAMP) AS last_ts
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
""",
    tags=("temporal", "window"),
)
def q116_cdc_upsert(spark, sf_dir):
    """Changelog compaction (the CDC MERGE shape): treat events as an
    upsert stream keyed by user_id — last writer by (ts, event_id) wins,
    'error' rows act as deletes. One row_number window = one shuffle on
    the key; at lake scale the same plan runs per key-bucket partition,
    which is exactly how Delta/Iceberg MERGE compacts a changelog."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_type").alias("last_type"),
            money("value").alias("value_cents"),
            F.col("ts").alias("last_ts"),
        )
        .orderBy("user_id")
    )


@query(
    "q117_sweep_concurrency",
    oracle="""
WITH deltas AS (
  SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS t, 1 AS d
  FROM events
  UNION ALL
  SELECT event_type, event_id,
         CAST(ts AS TIMESTAMP) + INTERVAL 300 SECOND, -1
  FROM events
), run AS (
  SELECT event_type,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d, event_id
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM deltas
)
SELECT event_type, CAST(MAX(c) AS BIGINT) AS max_concurrent
FROM run
GROUP BY event_type
ORDER BY event_type
""",
    tags=("temporal", "window"),
)
def q117_sweep_concurrency(spark, sf_dir):
    """Sweep-line max concurrency: each event opens a half-open 5-minute
    interval [ts, ts+300s); unpivot every interval into a +1/-1 delta,
    running-sum in time order, take the max. Ends sort before starts at
    the same instant (d ascending), so touching intervals don't count as
    overlapping. The classic interval-overlap self-join is O(n·k); the
    sweep is one window shuffle, linear in the log, and the window is
    partitioned by event_type so no single-partition global sort."""
    ev = table(spark, sf_dir, "events")
    deltas = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("x"),
    ).select("event_type", "event_id", "x.t", "x.d")
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.withColumn("c", F.sum("d").over(w))
        .groupBy("event_type")
        .agg(F.max("c").cast("bigint").alias("max_concurrent"))
        .orderBy("event_type")
    )


@query(
    "q118_scd2_intervals",
    oracle="""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
), runs AS (
  SELECT user_id, grp, event_type,
         CAST(MIN(ts) AS TIMESTAMP) AS valid_from
  FROM islands
  GROUP BY user_id, grp, event_type
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id
                              ORDER BY valid_from) AS valid_to
FROM runs
ORDER BY user_id, valid_from
""",
    tags=("temporal", "window"),
)
def q118_scd2_intervals(spark, sf_dir):
    """SCD Type-2 interval build (gaps-and-islands): collapse each
    user's consecutive runs of the same event_type into one row with
    [valid_from, valid_to) validity; the current state has NULL
    valid_to. Change markers + running sum assign island ids without any
    self-join; both windows shuffle on the same user_id key, so Spark
    reuses one exchange for the whole plan."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(w)
    marked = ev.withColumn(
        "chg",
        F.when(lagged.isNull() | (lagged != F.col("event_type")), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "grp",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = islands.groupBy("user_id", "grp", "event_type").agg(
        F.min("ts").alias("valid_from")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w2))
        .select("user_id", "event_type", "valid_from", "valid_to")
        .orderBy("user_id", "valid_from")
    )


_PR_DAMP = 0.85
_PR_ITERS = 3


def _pagerank_oracle() -> str:
    """Three unrolled power iterations as chained CTEs (DuckDB)."""
    head = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), edges AS (
  SELECT prev_type AS src, event_type AS dst,
         CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY src, dst
), outd AS (
  SELECT src, SUM(cnt) AS tot FROM edges GROUP BY src
), wedges AS (
  SELECT e.src, e.dst, e.cnt / o.tot AS p
  FROM edges e JOIN outd o USING (src)
), nodes AS (
  SELECT DISTINCT event_type AS node FROM events
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
  SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes
)"""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f""", r{i} AS (
  SELECT nd.node,
         {1 - _PR_DAMP} / (SELECT n FROM nn)
           + {_PR_DAMP} * COALESCE(SUM(pr.r * w.p), 0) AS r
  FROM nodes nd
  LEFT JOIN wedges w ON w.dst = nd.node
  LEFT JOIN r{i - 1} pr ON pr.node = w.src
  GROUP BY nd.node
)"""
        )
    tail = f"""
SELECT node, round(r, 6) AS rank
FROM r{_PR_ITERS}
ORDER BY node"""
    return head + "".join(steps) + tail


@query(
    "q119_pagerank_transitions",
    oracle=_pagerank_oracle(),
    tags=("temporal", "iterative"),
)
def q119_pagerank_transitions(spark, sf_dir):
    """PageRank (d=0.85, 3 power iterations) over the event-transition
    graph: nodes = event types, edge weights = row-normalized transition
    counts extracted with one lag() window over the full log. The
    expensive part — edge extraction — is a single distributed shuffle;
    the iteration state (one rank per node) is dimension-sized, so each
    step is a broadcast join against the edge list. The same loop shape
    scales to web-graph edges: ranks become a keyed table co-partitioned
    with edges, and lineage is cut with localCheckpoint as in the
    connected-components operator (operators/dedup.py:294)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    edges = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("cnt"))
    )
    outd = edges.groupBy("src").agg(F.sum("cnt").alias("tot"))
    # wedges/nodes are type²-/type-sized but re-referenced every power
    # iteration; without checkpoints the lag-window edge extraction —
    # the only full-log pass — replans once per iteration (14 duplicated
    # scans in the physical plan)
    wedges = (
        edges.join(outd, "src")
        .select("src", "dst", (F.col("cnt") / F.col("tot")).alias("p"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            wedges.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("p")).alias("mass"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    F.lit(1 - _PR_DAMP) / F.col("n")
                    + F.lit(_PR_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return ranks.select("node", F.round("r", 6).alias("rank")).orderBy("node")


@query(
    "q120_equidepth_histogram",
    oracle="""
WITH tiled AS (
  SELECT l_returnflag,
         l_extendedprice,
         ntile(8) OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS tile
  FROM lineitem
)
SELECT l_returnflag,
       CAST(tile AS INT) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(MIN(l_extendedprice) * 100.0, 0) AS BIGINT) AS lo_cents,
       CAST(ROUND(MAX(l_extendedprice) * 100.0, 0) AS BIGINT) AS hi_cents
FROM tiled
GROUP BY l_returnflag, tile
ORDER BY l_returnflag, tile
""",
    tags=("temporal", "window", "histogram"),
)
def q120_equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile) histogram: ntile(8) per return flag over a
    unique total order, then per-bucket count and fenceposts. The
    complement of q77's fixed-width histogram — equal mass instead of
    equal width. ntile needs a per-partition sort; partitioning by
    l_returnflag keeps the sort distributed rather than global."""
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            F.ntile(8).over(w).cast("int").alias("tile"),
        )
        .groupBy("l_returnflag", "tile")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min(money("l_extendedprice")).alias("lo_cents"),
            F.max(money("l_extendedprice")).alias("hi_cents"),
        )
        .orderBy("l_returnflag", "tile")
    )


@query(
    "q143_interval_overlap_join",
    oracle="""
WITH iv0 AS (
  SELECT l_suppkey AS sk,
         datediff('day', DATE '1992-01-01', l_shipdate::DATE) AS s,
         datediff('day', DATE '1992-01-01', l_shipdate::DATE)
           + CAST(l_quantity AS BIGINT) AS e
  FROM lineitem
), iv AS (
  SELECT sk, s, e,
         ROW_NUMBER() OVER (PARTITION BY sk ORDER BY s, e) AS uid
  FROM iv0
)
SELECT a.sk AS l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_overlaps
FROM iv a JOIN iv b
  ON a.sk = b.sk AND a.uid < b.uid AND a.s <= b.e AND b.s <= a.e
GROUP BY a.sk
ORDER BY n_overlaps DESC, l_suppkey
LIMIT 50
""",
    tags=("join", "temporal"),
)
def q143_interval_overlap_join(spark, sf_dir):
    """Interval-overlap SELF-join at scale: pairs of same-supplier
    shipments whose transit windows [shipdate, shipdate+quantity days]
    overlap. The theta formulation (s_a <= e_b AND s_b <= e_a) is a
    nested loop per supplier; here both sides explode into the 64-day
    grid cells their interval covers (<=2 cells for a <=50-day span), the
    join runs as an EQUI-join on (supplier, cell), a distinct collapses
    pairs that met in two cells, and the exact overlap predicate
    re-verifies — the standard grid-blocking interval join, one shuffle
    on the composite key, candidate volume bounded by per-cell density
    instead of per-supplier O(n²).

    Interval ids are a per-supplier ROW_NUMBER (one partition-local sort
    per supplier key, no global sort) rather than a natural key: the
    fixtures carry duplicate (l_orderkey, l_linenumber) rows, so a
    natural-key id would collapse distinct physical intervals and
    undercount pairs."""
    li = table(spark, sf_dir, "lineitem")
    epoch = F.lit("1992-01-01").cast("date")
    iv0 = li.select(
        F.col("l_suppkey").alias("sk"),
        F.datediff(F.col("l_shipdate").cast("date"), epoch)
        .cast("bigint")
        .alias("s"),
        (
            F.datediff(F.col("l_shipdate").cast("date"), epoch)
            + F.col("l_quantity").cast("bigint")
        ).alias("e"),
    )
    iv = iv0.withColumn(
        "uid",
        F.row_number().over(
            Window.partitionBy("sk").orderBy("s", "e")
        ),
    )
    cells = iv.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.col("s") / 64).cast("bigint"),
                F.floor(F.col("e") / 64).cast("bigint"),
            )
        ),
    )
    a = cells.select(
        F.col("sk"),
        F.col("cell"),
        F.col("uid").alias("uid_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = cells.select(
        F.col("sk"),
        F.col("cell"),
        F.col("uid").alias("uid_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    pairs = (
        a.join(b, ["sk", "cell"])
        .filter(
            (F.col("uid_a") < F.col("uid_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
        )
        .select("sk", "uid_a", "uid_b")
        .distinct()
    )
    return (
        pairs.groupBy(F.col("sk").alias("l_suppkey"))
        .agg(F.count("*").cast("bigint").alias("n_overlaps"))
        .orderBy(F.col("n_overlaps").desc(), "l_suppkey")
        .limit(50)
    )


@query(
    "q167_burstiness",
    oracle="""
WITH gaps AS (
  SELECT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
           - lag(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
  FROM events
), m AS (
  SELECT user_id,
         CAST(COUNT(g) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS s,
         CAST(SUM(g * g) AS BIGINT) AS s2
  FROM gaps WHERE g IS NOT NULL
  GROUP BY user_id HAVING COUNT(g) >= 2
)
SELECT user_id, n,
       round((sqrt((s2 - CAST(s AS DOUBLE) * s / n) / n)
              - CAST(s AS DOUBLE) / n)
             / (sqrt((s2 - CAST(s AS DOUBLE) * s / n) / n)
                + CAST(s AS DOUBLE) / n), 4) AS burstiness_r
FROM m
ORDER BY user_id
""",
    tags=("temporal", "agg"),
)
def q167_burstiness(spark, sf_dir):
    """Burstiness coefficient B = (sigma - mu)/(sigma + mu) of each
    user's inter-event gaps — the temporal signature separating
    Poisson-like activity (B ~ 0) from bursty sessions (B -> 1) and
    metronomic bots (B -> -1). Gaps come from one lag window on the
    user key; mean and population std derive from exact BIGINT moment
    sums (n, sum g, sum g^2) in a single closed-form double expression
    (q125's engine-stable pattern — no accumulation-order dependence),
    so both engines agree bit-for-bit before the 1e-4 display round.
    One shuffle on user_id; the moment aggregate is map-side
    combined."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.expr("unix_micros(ts) div 1000000")
            - F.lag(F.expr("unix_micros(ts) div 1000000")).over(w)
        ).cast("bigint").alias("g"),
    ).filter(F.col("g").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("g").cast("bigint").alias("n"),
            F.sum("g").cast("bigint").alias("s"),
            F.sum(F.col("g") * F.col("g")).cast("bigint").alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    mu = F.col("s").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / F.col("n")
    )
    return m.select(
        "user_id",
        "n",
        F.round((sigma - mu) / (sigma + mu), 4).alias("burstiness_r"),
    ).orderBy("user_id")


@query(
    "q172_point_in_time_join",
    oracle="""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), islands AS (
  SELECT user_id, event_type, ts,
         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
), dim AS (
  SELECT user_id, event_type AS state,
         CAST(MIN(ts) AS TIMESTAMP) AS valid_from
  FROM islands
  GROUP BY user_id, grp, event_type
), fact AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'purchase'
)
SELECT f.event_id, f.user_id, f.ts, d.state, d.valid_from AS state_since
FROM fact f
ASOF JOIN dim d ON f.user_id = d.user_id AND f.ts >= d.valid_from
ORDER BY f.event_id
""",
    tags=("temporal", "join", "operator"),
)
def q172_point_in_time_join(spark, sf_dir):
    """Point-in-time (PIT) dimension join — the warehouse-correctness
    op behind every SCD2 lookup: each purchase fact is joined to the
    version of the user's state dimension that was valid at the fact's
    event time, never a later one (no lookahead leakage). The dimension
    is the q118 gaps-and-islands SCD2 build (runs of equal event_type);
    the interval predicate `valid_from <= ts < valid_to` is executed as
    a backward as-of join on valid_from — contiguous intervals make the
    two equivalent, and the union-merge asof_join operator does it in
    one user_id shuffle + per-partition merge instead of a range-join
    explosion. At 100 TB the dimension is orders of magnitude smaller
    than the fact table, and the sort-merge pass touches each side
    once; the oracle uses DuckDB's native ASOF JOIN."""
    from ..operators import asof_join

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(w)
    marked = ev.withColumn(
        "chg",
        F.when(lagged.isNull() | (lagged != F.col("event_type")), 1).otherwise(0),
    )
    islands = marked.withColumn(
        "grp",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    dim = (
        islands.groupBy("user_id", "grp", "event_type")
        .agg(F.min("ts").alias("valid_from"))
        .select(
            "user_id", F.col("event_type").alias("state"), "valid_from"
        )
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        fact,
        dim,
        on="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_values=["state"],
        suffix="_dim",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("state_dim").alias("state"),
        F.col("valid_from_dim").alias("state_since"),
    ).orderBy("event_id")


@query(
    "q175_session_gaps",
    oracle="""
WITH pts AS (
  SELECT user_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events
), marked AS (
  SELECT user_id, s,
         CASE WHEN s - lag(s) OVER w > 1800 OR lag(s) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY s)
), sess AS (
  SELECT user_id, s,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY s
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
), bounds AS (
  SELECT user_id, sid,
         MIN(s) AS sess_start, MAX(s) AS sess_end
  FROM sess GROUP BY user_id, sid
), gaps AS (
  SELECT user_id,
         sess_start - lag(sess_end) OVER (PARTITION BY user_id
                                          ORDER BY sess_start) AS gap_s
  FROM bounds
)
SELECT user_id,
       CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
       CAST(COALESCE(MAX(gap_s), 0) AS BIGINT) AS max_gap_s,
       CAST(COALESCE(SUM(gap_s), 0) AS BIGINT) AS total_gap_s
FROM gaps
GROUP BY user_id
ORDER BY user_id
""",
    tags=("temporal", "window"),
)
def q175_session_gaps(spark, sf_dir):
    """Inter-session idle gaps per user — the complement of q127's
    merged-interval coverage: sessionize on a 30-minute inactivity
    threshold (gaps-and-islands, whole-second epoch arithmetic so both
    engines compare identical BIGINTs), then measure the silence
    between consecutive sessions. Downtime/idle analysis is this exact
    shape over heartbeat logs. All three windows and the final groupBy
    key on user_id, so the whole plan is one exchange reused across
    stages; session state per user is bounded by session count, not
    event count."""
    ev = table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id", F.expr("unix_micros(ts) div 1000000").alias("s")
    )
    w = Window.partitionBy("user_id").orderBy("s")
    lag_s = F.lag("s").over(w)
    marked = pts.withColumn(
        "new_sess",
        F.when(lag_s.isNull() | ((F.col("s") - lag_s) > 1800), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "sid",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    bounds = sess.groupBy("user_id", "sid").agg(
        F.min("s").alias("sess_start"), F.max("s").alias("sess_end")
    )
    w2 = Window.partitionBy("user_id").orderBy("sess_start")
    gaps = bounds.select(
        "user_id",
        (F.col("sess_start") - F.lag("sess_end").over(w2)).alias("gap_s"),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").cast("bigint").alias("n_gaps"),
            F.coalesce(F.max("gap_s"), F.lit(0)).cast("bigint").alias("max_gap_s"),
            F.coalesce(F.sum("gap_s"), F.lit(0)).cast("bigint").alias("total_gap_s"),
        )
        .orderBy("user_id")
    )


@query(
    "q211_time_weighted_average",
    oracle="""
WITH seq AS (
  SELECT event_type,
         date_trunc('day', ts) AS d,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v_cents,
         epoch_us(CAST(lead(ts) OVER (PARTITION BY event_type,
                                                   date_trunc('day', ts)
                                      ORDER BY ts, event_id) AS TIMESTAMP))
           // 1000000
           - epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS hold_s
  FROM events
)
SELECT event_type, CAST(d AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(v_cents * hold_s) AS BIGINT) AS weighted_cents_s,
       CAST(SUM(hold_s) AS BIGINT) AS total_s,
       round(CAST(SUM(v_cents * hold_s) AS DOUBLE)
             / NULLIF(SUM(hold_s), 0) / 100.0, 4) AS twap_r
FROM seq
WHERE hold_s IS NOT NULL
GROUP BY event_type, d
ORDER BY event_type, day
""",
    tags=("temporal", "analytics"),
)
def q211_time_weighted_average(spark, sf_dir):
    """Time-weighted average (TWAP): each observation's value is
    weighted by how long it HELD — the seconds until the next
    observation of the same (event_type, day) series — so irregular
    sampling doesn't bias the mean toward burst periods (the metric
    convention for prices and gauges). One lead() frame per series
    partition computes holds (single shuffle on the series key, which
    the following aggregate reuses); weights are integer cents x
    integer seconds, so the weighted sums are exact BIGINTs and the
    single terminal division is engine-stable."""
    ev = table(spark, sf_dir, "events")
    d = F.date_trunc("day", "ts")
    w = Window.partitionBy("event_type", "d").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        d.alias("d"),
        money("value").alias("v_cents"),
        "ts",
        "event_id",
    ).withColumn(
        "hold_s",
        (
            F.unix_timestamp(F.lead("ts").over(w))
            - F.unix_timestamp("ts")
        ),
    )
    return (
        seq.filter(F.col("hold_s").isNotNull())
        .groupBy("event_type", F.col("d").cast("date").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("n_obs"),
            F.sum(F.col("v_cents") * F.col("hold_s"))
            .cast("bigint")
            .alias("weighted_cents_s"),
            F.sum("hold_s").cast("bigint").alias("total_s"),
            F.round(
                F.sum(F.col("v_cents") * F.col("hold_s")).cast("double")
                / F.nullif(F.sum("hold_s"), F.lit(0))
                / 100.0,
                4,
            ).alias("twap_r"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q212_interval_day_split",
    oracle="""
WITH sess AS (
  SELECT user_id,
         CAST(ts AS TIMESTAMP) AS s_start,
         CAST(ts AS TIMESTAMP)
           + to_seconds(CAST(1800 + (event_id % 7200) AS BIGINT)) AS s_end,
         event_id
  FROM events WHERE event_type = 'signup'
), days AS (
  SELECT user_id, event_id, s_start, s_end,
         unnest(generate_series(date_trunc('day', s_start),
                                date_trunc('day', s_end),
                                INTERVAL 1 DAY)) AS day0
  FROM sess
)
SELECT user_id, event_id, CAST(day0 AS DATE) AS day,
       CAST(epoch_us(least(s_end, day0 + INTERVAL 1 DAY)) // 1000000
            - epoch_us(greatest(s_start, day0)) // 1000000
            AS BIGINT) AS seconds_in_day
FROM days
ORDER BY user_id, event_id, day
""",
    tags=("temporal",),
)
def q212_interval_day_split(spark, sf_dir):
    """Interval splitting at day boundaries — the proration twin of
    interval MERGING (q127): each synthetic session (deterministic
    duration from the event id) is exploded into one fragment per
    calendar day it touches, with exact per-day seconds
    (clamp(end, next-midnight) - clamp(start, midnight)). The day list
    is a per-row ``sequence`` over day-truncated bounds — explode
    fan-out is bounded by session length in days, never corpus-sized;
    the arithmetic is integer epoch seconds end-to-end. This is how
    usage metering, SLA attribution, and billing proration distribute
    a duration across accounting periods."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    sess = ev.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s_start"),
        (
            F.col("ts")
            + (F.lit(1800) + F.col("event_id") % 7200).cast("long").cast(
                "interval second"
            )
        ).alias("s_end"),
    )
    days = sess.withColumn(
        "day0",
        F.explode(
            F.sequence(
                F.date_trunc("day", "s_start"),
                F.date_trunc("day", "s_end"),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    )
    return days.select(
        "user_id",
        "event_id",
        F.col("day0").cast("date").alias("day"),
        (
            F.unix_timestamp(
                F.least(F.col("s_end"), F.col("day0") + F.expr("INTERVAL 1 DAY"))
            )
            - F.unix_timestamp(F.greatest(F.col("s_start"), F.col("day0")))
        )
        .cast("bigint")
        .alias("seconds_in_day"),
    ).orderBy("user_id", "event_id", "day")


@query(
    "q215_calendar_gap_fill",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT event_type,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
)
SELECT s.event_type, s.day,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events,
       CAST(d.n IS NULL AS INT) AS gap_filled
FROM spine s LEFT JOIN daily d
  ON d.event_type = s.event_type AND d.day = s.day
ORDER BY s.event_type, s.day
""",
    tags=("temporal",),
)
def q215_calendar_gap_fill(spark, sf_dir):
    """Calendar-spine gap filling: densify each series to one row per
    calendar day between its first and last observation, zero-filling
    missing days — the preprocessing every window/forecast pass needs
    so absent days read as 0, not as skipped frames. The spine
    generates from the per-series [min, max] BOUNDS table (series-count
    sized) via a per-row day sequence — days-per-series fan-out, never
    a global calendar cross-join; the fill is one left join back onto
    the daily aggregate, which reuses the same (type, day) shuffle."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)  # feeds bounds + the fill join
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.col("n").isNull().cast("int").alias("gap_filled"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q216_linear_interpolation",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS v_cents
  FROM events WHERE event_type IN ('signup', 'purchase')
  GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), spine AS (
  SELECT event_type,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), joined AS (
  SELECT s.event_type, s.day, d.v_cents FROM spine s
  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
), ctx AS (
  SELECT event_type, day, v_cents,
         last_value(v_cents IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
         last_value(CASE WHEN v_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dp,
         first_value(v_cents IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
         first_value(CASE WHEN v_cents IS NOT NULL THEN day END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS dn
  FROM joined
)
SELECT event_type, day,
       CAST(v_cents IS NULL AS INT) AS interpolated,
       round(CASE WHEN v_cents IS NOT NULL THEN v_cents / 100.0
                  ELSE (vp + (vn - vp) * CAST(day - dp AS BIGINT)
                             / CAST(dn - dp AS BIGINT)) / 100.0
             END, 4) AS value_r
FROM ctx
ORDER BY event_type, day
""",
    tags=("temporal", "window"),
)
def q216_linear_interpolation(spark, sf_dir):
    """Linear interpolation of missing days: gap days (from the q215
    calendar spine) get vp + (vn - vp)·(d - dp)/(dn - dp) from the
    surrounding observations via IGNORE NULLS last/first frames — the
    standard timeseries imputation. Two window passes share ONE
    (event_type) partitioning shuffle; all interpolation inputs are
    integer cents and integer day gaps, so the single division is
    engine-stable. Interior gaps only by construction (the spine spans
    [min, max]), so vp/dp/vn/dn are never NULL where interpolated."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.sum(money("value")).cast("bigint").alias("v_cents"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v_cents").isNotNull(), F.col("day"))
    ctx = joined.select(
        "event_type",
        "day",
        "v_cents",
        F.last("v_cents", ignorenulls=True).over(wb).alias("vp"),
        F.last(obs_day, ignorenulls=True).over(wb).alias("dp"),
        F.first("v_cents", ignorenulls=True).over(wf).alias("vn"),
        F.first(obs_day, ignorenulls=True).over(wf).alias("dn"),
    )
    interp = (
        F.col("vp")
        + (F.col("vn") - F.col("vp"))
        * F.datediff("day", "dp").cast("bigint")
        / F.datediff("dn", "dp").cast("bigint")
    ) / 100.0
    return ctx.select(
        "event_type",
        "day",
        F.col("v_cents").isNull().cast("int").alias("interpolated"),
        F.round(
            F.when(
                F.col("v_cents").isNotNull(), F.col("v_cents") / 100.0
            ).otherwise(interp),
            4,
        ).alias("value_r"),
    ).orderBy("event_type", "day")


@query(
    "q229_capped_running_balance",
    oracle="""
WITH d AS (
  SELECT user_id,
         {'ts': ts, 'event_id': event_id,
          'delta': CAST(ROUND(value * 100.0, 0) AS BIGINT) - 5000} AS s
  FROM events
), packed AS (
  SELECT user_id,
         list_transform(list_sort(list(s)), x -> x.delta) AS deltas
  FROM d GROUP BY user_id
)
SELECT user_id,
       CAST(len(deltas) AS BIGINT) AS n_events,
       CAST(list_sum(deltas) AS BIGINT) AS uncapped_sum,
       CAST(list_reduce(list_prepend(0::BIGINT, deltas),
                        (acc, x) -> greatest(0::BIGINT, acc + x))
            AS BIGINT) AS capped_balance
FROM packed
ORDER BY user_id
""",
    tags=("temporal",),
)
def q229_capped_running_balance(spark, sf_dir):
    """Floor-capped running balance — the inventory/wallet recurrence
    balance_i = max(0, balance_{i-1} + delta_i), which NO window frame
    can express (the cap makes each step depend on the clamped previous
    step, not on any prefix aggregate). The scalable exact form: one
    key shuffle collects each user's deltas in (ts, event_id) order and
    a codegen ``aggregate`` lambda folds the recurrence left-to-right —
    sequential per key as the math demands, parallel across keys, no
    Python. The uncapped sum rides along to show when the cap bit.
    Per-key state is bounded by the user's event count; streaming-wise
    this is q57's stateful running aggregate with a clamp."""
    ev = table(spark, sf_dir, "events")
    delta = money("value") - 5000
    packed = (
        ev.select(
            "user_id", F.struct("ts", "event_id", delta.alias("delta")).alias("s")
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")), lambda x: x.getField("delta")
            ).alias("deltas")
        )
    )
    zero = F.lit(0).cast("bigint")
    return packed.select(
        "user_id",
        F.size("deltas").cast("bigint").alias("n_events"),
        F.aggregate(
            "deltas", zero, lambda acc, x: acc + x
        ).cast("bigint").alias("uncapped_sum"),
        F.aggregate(
            "deltas", zero, lambda acc, x: F.greatest(zero, acc + x)
        )
        .cast("bigint")
        .alias("capped_balance"),
    ).orderBy("user_id")


@query(
    "q295_exponential_fit_gof",
    oracle="""
WITH gaps AS (
  SELECT CAST((epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
         AS BIGINT) AS gap_s
  FROM events
), g AS (
  SELECT gap_s FROM gaps WHERE gap_s IS NOT NULL AND gap_s > 0
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(gap_s) AS BIGINT) AS total_s
  FROM g
), dist AS (
  SELECT gap_s, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY gap_s
), cdf AS (
  SELECT gap_s,
         CAST(SUM(c) OVER (ORDER BY gap_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM dist
), terms AS (
  SELECT round(abs(CAST(cdf.cum AS DOUBLE) / fit.n
               - (1.0 - exp(-(CAST(fit.n AS DOUBLE) / fit.total_s)
                            * cdf.gap_s))), 6) AS d
  FROM cdf CROSS JOIN fit
)
SELECT fit.n AS n_gaps,
       round(CAST(fit.n AS DOUBLE) / fit.total_s * 1000.0, 6)
         AS lambda_milli_r,
       round(CAST(fit.total_s AS DOUBLE) / fit.n, 6) AS mean_gap_s_r,
       (SELECT MAX(d) FROM terms) AS ks_distance_r
FROM fit
""",
    tags=("temporal", "stats"),
)
def q295_exponential_fit_gof(spark, sf_dir):
    """Exponential fit + goodness-of-fit for inter-event gaps — the
    "is arrival really Poisson?" check that decides whether queueing
    math (and the q167 burstiness interpretation) applies: the MLE
    rate is the exact rational n/sum(gaps), and the KS distance
    compares the empirical CDF (a running count over the DISTINCT-gap
    summary — never per-event ranks) against the fitted exponential
    CDF. Each |ECDF - model| term is rounded to 6dp BEFORE the max, so
    the supremum selection cannot flip on a 1-ulp exp() disagreement
    (the q83 rounded-rank lesson applied to a max instead of a sort).
    One lag pass, one distinct-gap shuffle; the CDF window runs over
    gap cardinality."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    gaps = (
        ev.select(
            F.expr(
                "(unix_micros(ts) - unix_micros(lag(ts) OVER ("
                "PARTITION BY user_id ORDER BY ts, event_id)))"
                " div 1000000"
            )
            .cast("bigint")
            .alias("gap_s")
        )
        .filter(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0))
        .localCheckpoint(eager=False)
    )
    fit = gaps.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap_s").cast("bigint").alias("total_s"),
    )
    dist = gaps.groupBy("gap_s").agg(F.count("*").cast("bigint").alias("c"))
    wc = Window.orderBy("gap_s").rowsBetween(Window.unboundedPreceding, 0)
    cdf = dist.select(
        "gap_s", F.sum("c").over(wc).cast("bigint").alias("cum")
    )
    lam = F.col("n").cast("double") / F.col("total_s")
    term = F.round(
        F.abs(
            F.col("cum").cast("double") / F.col("n")
            - (1.0 - F.exp(-lam * F.col("gap_s")))
        ),
        6,
    )
    ks = (
        cdf.crossJoin(F.broadcast(fit))
        .select(term.alias("d"))
        .agg(F.max("d").alias("ks_distance_r"))
    )
    return fit.crossJoin(F.broadcast(ks)).select(
        F.col("n").alias("n_gaps"),
        F.round(lam * 1000.0, 6).alias("lambda_milli_r"),
        F.round(
            F.col("total_s").cast("double") / F.col("n"), 6
        ).alias("mean_gap_s_r"),
        "ks_distance_r",
    )


@query(
    "q298_backtest_mape",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY day
), horizons AS (
  SELECT CAST(h.h AS BIGINT) AS horizon
  FROM (VALUES (1), (2), (3), (7)) h(h)
), joined AS (
  SELECT h.horizon, a.day AS forecast_day, a.x AS actual, f.x AS forecast
  FROM daily a
  CROSS JOIN horizons h
  JOIN daily f ON f.day = a.day - CAST(7 AS INT)
  WHERE EXISTS (SELECT 1 FROM daily p
                WHERE p.day = a.day - CAST(h.horizon AS INT))
), scored AS (
  SELECT horizon,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(ROUND(abs(CAST(forecast - actual AS DOUBLE))
                    / actual * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS ape_micro,
         CAST(SUM(abs(forecast - actual)) AS BIGINT) AS abs_err
  FROM joined GROUP BY horizon
)
SELECT horizon, n_days,
       round(CAST(ape_micro AS DOUBLE) / 1000000.0 / n_days, 6) AS mape_r,
       round(CAST(abs_err AS DOUBLE) / n_days, 6) AS mae_r
FROM scored ORDER BY horizon
""",
    tags=("temporal", "eval", "timeseries"),
)
def q298_backtest_mape(spark, sf_dir):
    """Forecast backtest: the seasonal-naive predictor ("same weekday
    last week") scored with MAPE and MAE against actual daily volume,
    evaluated only on days where the horizon's history exists — the
    honest baseline every forecasting model must beat before it earns
    a deployment (the q284 lookup-table principle applied to time
    series). Per-day absolute percentage errors are micro-fixed before
    the mean (exact integer counts in, one double division per day);
    the whole backtest runs on the calendar-sized day summary with a
    broadcast horizon spine — adding horizons or years of history
    never touches the event log again. The deliberately-simple
    forecast column swaps for any model's predictions table; the
    scoring tail is the reusable part."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .localCheckpoint(eager=False)
    )
    horizons = literal_frame(
        spark,
        [(1,), (2,), (3,), (7,)], "horizon bigint"
    )
    f = daily.select(F.col("day").alias("fday"), F.col("x").alias("forecast"))
    p = daily.select(F.col("day").alias("pday"))
    joined = (
        daily.crossJoin(F.broadcast(horizons))
        .join(f, F.col("fday") == F.date_sub(F.col("day"), 7))
        .join(
            p,
            F.col("pday")
            == F.expr("date_sub(day, CAST(horizon AS INT))"),
            "left_semi",
        )
        .select("horizon", F.col("x").alias("actual"), "forecast")
    )
    ape = money(
        F.abs((F.col("forecast") - F.col("actual")).cast("double"))
        / F.col("actual"),
        6,
    )
    scored = joined.groupBy("horizon").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(ape).cast("bigint").alias("ape_micro"),
        F.sum(F.abs(F.col("forecast") - F.col("actual")))
        .cast("bigint")
        .alias("abs_err"),
    )
    return scored.select(
        "horizon",
        "n_days",
        F.round(
            F.col("ape_micro").cast("double") / 1e6 / F.col("n_days"), 6
        ).alias("mape_r"),
        F.round(
            F.col("abs_err").cast("double") / F.col("n_days"), 6
        ).alias("mae_r"),
    ).orderBy("horizon")


@query(
    "q316_cycle_time_percentiles",
    oracle="""
WITH cycles AS (
  SELECT o.o_orderpriority AS grp,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS cycle_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
)
SELECT grp,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(quantile_cont(cycle_days, 0.5), 6) AS p50_days_r,
       round(quantile_cont(cycle_days, 0.9), 6) AS p90_days_r,
       round(quantile_cont(cycle_days, 0.99), 6) AS p99_days_r,
       CAST(MAX(cycle_days) AS BIGINT) AS max_days
FROM cycles GROUP BY grp ORDER BY grp
""",
    tags=("temporal", "ops"),
)
def q316_cycle_time_percentiles(spark, sf_dir):
    """Order-to-ship cycle-time percentiles per priority — the
    operational SLA view of a process spanning two tables: exact
    integer day differences from the order⋈lineitem join (negative
    artifacts excluded explicitly rather than silently absorbed),
    exact interpolated p50/p90/p99 plus the max straggler. The p99-p50
    spread per priority is the number an ops review reads: a fat tail
    on URGENT orders is a broken expedite path even when the median
    looks healthy. One fact join (the priority column broadcasts from
    orders' slim projection), one grouped percentile pass."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_orderdate").cast("date").alias("od")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    cycles = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("sd") >= F.col("od"))
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.datediff("sd", "od").cast("bigint").alias("cycle_days"),
        )
    )
    return (
        cycles.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.round(F.percentile("cycle_days", F.lit(0.5)), 6).alias(
                "p50_days_r"
            ),
            F.round(F.percentile("cycle_days", F.lit(0.9)), 6).alias(
                "p90_days_r"
            ),
            F.round(F.percentile("cycle_days", F.lit(0.99)), 6).alias(
                "p99_days_r"
            ),
            F.max("cycle_days").cast("bigint").alias("max_days"),
        )
        .orderBy("grp")
    )


_TB_CAP = 60000000  # 10 tokens, 1 token = 6e6 units (1 unit/us refill)
_TB_COST = 6000000


@query(
    "q327_token_bucket_replay",
    oracle=f"""
WITH d AS (
  SELECT user_id,
         {{'ts': ts, 'event_id': event_id, 'u': epoch_us(ts)}} AS s
  FROM events
), packed AS (
  SELECT user_id,
         list_transform(list_sort(list(s)), x -> x.u) AS times
  FROM d GROUP BY user_id
), folded AS (
  SELECT user_id, len(times) AS n_events,
         list_reduce(
           list_prepend(
             {{'t': CAST({_TB_CAP} AS BIGINT),
               'last': CAST(-1 AS BIGINT),
               'thr': CAST(0 AS BIGINT)}},
             list_transform(times, u ->
               {{'t': u, 'last': CAST(0 AS BIGINT),
                 'thr': CAST(0 AS BIGINT)}})),
           (acc, x) -> {{
             't': CASE WHEN (CASE WHEN acc.last < 0 THEN {_TB_CAP}
                        ELSE least({_TB_CAP}, acc.t + (x.t - acc.last))
                        END) >= {_TB_COST}
                   THEN (CASE WHEN acc.last < 0 THEN {_TB_CAP}
                         ELSE least({_TB_CAP}, acc.t + (x.t - acc.last))
                         END) - {_TB_COST}
                   ELSE (CASE WHEN acc.last < 0 THEN {_TB_CAP}
                         ELSE least({_TB_CAP}, acc.t + (x.t - acc.last))
                         END) END,
             'last': x.t,
             'thr': acc.thr + CASE WHEN (CASE WHEN acc.last < 0
                        THEN {_TB_CAP}
                        ELSE least({_TB_CAP}, acc.t + (x.t - acc.last))
                        END) >= {_TB_COST} THEN 0 ELSE 1 END}}) AS st
  FROM packed
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(st.thr AS BIGINT) AS n_throttled,
       round(CAST(st.thr AS DOUBLE) / n_events, 6) AS throttle_rate_r
FROM folded
ORDER BY user_id
""",
    tags=("temporal", "systems"),
)
def q327_token_bucket_replay(spark, sf_dir):
    """Token-bucket rate-limit replay: how many of each user's events
    WOULD a 10-per-minute limiter (burst 10) have throttled? The
    capacity-planning question every API team answers before turning a
    limiter on — replayed exactly, because the bucket recurrence
    (tokens = min(cap, tokens + refill·gap) − cost, clamped) is the
    q229 fold pattern with STRUCT state: one key shuffle collects each
    user's event times in order, and a codegen aggregate lambda
    threads (tokens, last_ts, throttled) through the sequence —
    sequential per user as the semantics demand, parallel across
    users, integer token-units throughout (1 unit = 1 µs of refill at
    10/min). DuckDB's list_reduce needs acc and element types to
    match, so the oracle carries timestamps inside the same struct
    shape — representation differs, the folded answer doesn't."""
    ev = table(spark, sf_dir, "events")
    packed = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.unix_micros("ts").alias("u")
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")),
                lambda x: x.getField("u"),
            ).alias("times")
        )
    )
    cap = F.lit(_TB_CAP).cast("bigint")
    cost = F.lit(_TB_COST).cast("bigint")
    init = F.struct(
        cap.alias("t"),
        F.lit(-1).cast("bigint").alias("last"),
        F.lit(0).cast("bigint").alias("thr"),
    )

    def step(acc, u):
        tt = F.when(acc.getField("last") < 0, cap).otherwise(
            F.least(cap, acc.getField("t") + (u - acc.getField("last")))
        )
        allowed = tt >= cost
        return F.struct(
            F.when(allowed, tt - cost).otherwise(tt).alias("t"),
            u.alias("last"),
            (
                acc.getField("thr")
                + F.when(allowed, F.lit(0)).otherwise(F.lit(1))
            ).alias("thr"),
        )

    st = F.aggregate("times", init, step)
    return packed.select(
        "user_id",
        F.size("times").cast("bigint").alias("n_events"),
        st.getField("thr").cast("bigint").alias("n_throttled"),
        F.round(
            st.getField("thr").cast("double") / F.size("times"), 6
        ).alias("throttle_rate_r"),
    ).orderBy("user_id")


@query(
    "q329_poisson_fit_gof",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
  FROM lineitem GROUP BY l_orderkey
), fit AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(k) AS BIGINT) AS sk
  FROM per_order
), obs AS (
  SELECT LEAST(k, CAST(9 AS BIGINT)) AS kbin,
         CAST(COUNT(*) AS BIGINT) AS o
  FROM per_order GROUP BY kbin
), expected AS (
  SELECT g.g AS kbin,
         CAST(ROUND(
           exp(-(CAST(f.sk AS DOUBLE) / f.n))
           * pow(CAST(f.sk AS DOUBLE) / f.n, g.g)
           / (CASE g.g WHEN 0 THEN 1.0 WHEN 1 THEN 1.0 WHEN 2 THEN 2.0
              WHEN 3 THEN 6.0 WHEN 4 THEN 24.0 WHEN 5 THEN 120.0
              WHEN 6 THEN 720.0 WHEN 7 THEN 5040.0
              WHEN 8 THEN 40320.0 ELSE 362880.0 END)
           * f.n * 1000000.0, 0) AS BIGINT) AS e_micro
  FROM generate_series(0, 9) g(g) CROSS JOIN fit f
), terms AS (
  SELECT e.kbin,
         CAST(COALESCE(o.o, 0) AS BIGINT) AS o,
         e.e_micro,
         CAST(ROUND(
           (CAST(COALESCE(o.o, 0) AS DOUBLE)
            - CAST(e.e_micro AS DOUBLE) / 1000000.0)
           * (CAST(COALESCE(o.o, 0) AS DOUBLE)
              - CAST(e.e_micro AS DOUBLE) / 1000000.0)
           / (CAST(e.e_micro AS DOUBLE) / 1000000.0)
           * 1000000.0, 0) AS BIGINT) AS chi_micro
  FROM expected e LEFT JOIN obs o ON o.kbin = e.kbin
)
SELECT CAST((SELECT n FROM fit) AS BIGINT) AS n_orders,
       round(CAST((SELECT sk FROM fit) AS DOUBLE)
             / (SELECT n FROM fit), 6) AS lambda_r,
       round(CAST(SUM(chi_micro) AS DOUBLE) / 1000000.0, 4) AS chi2_r
FROM terms
""",
    tags=("temporal", "stats"),
)
def q329_poisson_fit_gof(spark, sf_dir):
    """Poisson fit + chi-square goodness-of-fit for lines-per-order —
    q295's exponential check for COUNT data: the MLE rate is the exact
    mean, expected bin masses e^-λ λ^k/k! use hardcoded factorials
    (k <= 9, tail collapsed into the last bin so expectations stay
    comparable) and round to micro-units per bin, and the Pearson
    statistic sums micro-fixed per-bin terms — zero-observation bins
    included via the left join, exactly where a naive inner join would
    silently understate the discrepancy. Verdict reading: lines per
    order is NOT Poisson if chi2 blows past ~16.9 (df=8) — the check
    that stops teams from using Poisson math on clearly non-Poisson
    order sizes. One grouped pass; statistics on a 10-row bin table."""
    li = table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("k")
    ).localCheckpoint(eager=False)
    fit = per_order.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sk"),
    )
    obs = per_order.groupBy(
        F.least(F.col("k"), F.lit(9).cast("bigint")).alias("kbin")
    ).agg(F.count("*").cast("bigint").alias("o"))
    facts = [1.0, 1.0, 2.0, 6.0, 24.0, 120.0, 720.0, 5040.0, 40320.0, 362880.0]
    spine = literal_frame(spark, [(k,) for k in range(10)], "kbin bigint")
    lam = F.col("sk").cast("double") / F.col("n")
    fact = None
    for k, fv in enumerate(facts):
        c = F.when(F.col("kbin") == k, F.lit(fv))
        fact = c if fact is None else fact.when(F.col("kbin") == k, F.lit(fv))
    fact = fact.otherwise(F.lit(362880.0))
    expected = (
        spine.crossJoin(F.broadcast(fit))
        .select(
            "kbin",
            money(
                F.exp(-lam)
                * F.pow(lam, F.col("kbin").cast("double"))
                / fact
                * F.col("n"),
                6,
            )
            .alias("e_micro"),
        )
    )
    e_val = F.col("e_micro").cast("double") / 1e6
    o_val = F.coalesce(F.col("o"), F.lit(0)).cast("double")
    terms = expected.join(obs, "kbin", "left").select(
        money((o_val - e_val) * (o_val - e_val) / e_val, 6).alias("chi_micro")
    )
    chi = terms.agg(
        F.round(F.sum("chi_micro").cast("double") / 1e6, 4).alias("chi2_r")
    )
    return (
        fit.crossJoin(F.broadcast(chi))
        .select(
            F.col("n").alias("n_orders"),
            F.round(lam, 6).alias("lambda_r"),
            "chi2_r",
        )
    )


@query(
    "q332_backlog_simulation",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS arrivals
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01'
  GROUP BY day
), packed AS (
  SELECT list_transform(list_sort(list({'d': day, 'a': arrivals})),
                        x -> x.a) AS arr,
         list_transform(list_sort(list({'d': day, 'a': arrivals})),
                        x -> x.d) AS days
  FROM daily
), folded AS (
  SELECT days, arr,
         list_reduce(list_prepend(CAST(0 AS BIGINT), arr),
           (acc, x) -> greatest(CAST(0 AS BIGINT),
                                acc + x - 95)) AS final_backlog,
         len(arr) AS n_days
  FROM packed
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(list_sum(arr) AS BIGINT) AS total_arrivals,
       CAST(final_backlog AS BIGINT) AS final_backlog,
       CAST(CASE WHEN final_backlog > 0 THEN 1 ELSE 0 END AS INT)
         AS under_capacity
FROM folded
""",
    tags=("temporal", "systems", "ops"),
)
def q332_backlog_simulation(spark, sf_dir):
    """Capacity backlog replay: feed the real daily order arrivals
    through a fixed service capacity (95 orders/day) and fold the
    Lindley recurrence backlog = max(0, backlog + arrivals − capacity)
    across the calendar — the queueing question ("does this capacity
    ever drown?") answered on actual demand instead of an M/M/1
    assumption. Same codegen fold machinery as q229/q327, applied to
    the DAY SUMMARY, so the sequential part is 240-odd elements no
    matter how many orders arrived; capacity sweeps would broadcast a
    spine exactly like q293. A non-zero final backlog is the
    under-provisioning verdict."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            F.col("o_orderdate").cast("date")
            >= F.lit("2001-01-01").cast("date")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").cast("bigint").alias("arrivals"))
    )
    packed = daily.agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("day", F.col("arrivals").alias("a")))
            ),
            lambda x: x.getField("a"),
        ).alias("arr")
    )
    zero = F.lit(0).cast("bigint")
    backlog = F.aggregate(
        "arr", zero, lambda acc, x: F.greatest(zero, acc + x - 95)
    )
    return packed.select(
        F.size("arr").cast("bigint").alias("n_days"),
        F.aggregate("arr", zero, lambda a, x: a + x)
        .cast("bigint")
        .alias("total_arrivals"),
        backlog.cast("bigint").alias("final_backlog"),
        (backlog > 0).cast("int").alias("under_capacity"),
    )


@query(
    "a350_business_day_cycle",
    oracle="""
WITH gaps AS (
  SELECT o.o_orderpriority,
         ((CAST(l.l_shipdate AS DATE) - DATE '1970-01-05') // 7) * 5
           + least((CAST(l.l_shipdate AS DATE) - DATE '1970-01-05') % 7, 5)
           - (((CAST(o.o_orderdate AS DATE) - DATE '1970-01-05') // 7) * 5
              + least((CAST(o.o_orderdate AS DATE) - DATE '1970-01-05') % 7,
                      5)) AS bd
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       round(CAST(SUM(bd) AS DOUBLE) / COUNT(*), 6) AS avg_bdays_r,
       CAST(MIN(bd) AS BIGINT) AS min_bdays,
       CAST(MAX(bd) AS BIGINT) AS max_bdays
FROM gaps
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("temporal", "calendar"),
)
def a350_business_day_cycle(spark, sf_dir):
    """Order-to-ship cycle time in BUSINESS days (weekends excluded) —
    the calendar arithmetic every ops report needs, in closed form
    instead of exploding a date spine per row: f(d) = (days/7)*5 +
    min(days mod 7, 5) counts weekdays from a fixed Monday epoch
    (1970-01-05), so the gap is just f(ship) − f(order) — pure integer
    arithmetic in whole-stage codegen, O(1) per row at any scale (the
    explode-a-date-sequence alternative is O(gap) rows per line item
    and was rejected; see also the DuckDB lateral generate_series
    limitation). Weekend-to-weekend edges come out right because both
    endpoints clamp at 5; the difference counts weekdays in the
    half-open [order, ship) interval (unit-tested against a day-by-day
    brute force, not just the oracle twin). The join is the standard orders⋈lineitem
    equi-join; the aggregate is map-side combined; avg is an exact
    integer-sum ratio rounded once. No dayofweek() call — the mod-7
    epoch trick sidesteps the Spark-vs-DuckDB dow numbering hazard
    entirely."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    def f(col):
        days = F.datediff(F.col(col).cast("date"), F.lit("1970-01-05").cast("date"))
        return (days - F.pmod(days, 7)) / 7 * 5 + F.least(
            F.pmod(days, 7), F.lit(5)
        )

    gaps = o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderpriority",
        (f("l_shipdate") - f("o_orderdate")).cast("bigint").alias("bd"),
    )
    return (
        gaps.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.round(
                F.sum("bd").cast("double") / F.count("*"), 6
            ).alias("avg_bdays_r"),
            F.min("bd").cast("bigint").alias("min_bdays"),
            F.max("bd").cast("bigint").alias("max_bdays"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "a360_holt_linear",
    oracle="""
WITH RECURSIVE monthly AS (
  SELECT o_orderpriority AS grp,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(CAST(SUM(CAST(ROUND(o_totalprice, 0) AS BIGINT)) AS BIGINT)
              AS DOUBLE) AS rev
  FROM orders GROUP BY grp, month
), ordered AS (
  SELECT grp, rev,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY month)
              AS BIGINT) AS k,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM monthly
), state AS (
  SELECT grp, CAST(2 AS BIGINT) AS k, n,
         MAX(CASE WHEN k = 1 THEN rev END) AS l,
         MAX(CASE WHEN k = 2 THEN rev END)
           - MAX(CASE WHEN k = 1 THEN rev END) AS t
  FROM ordered
  GROUP BY grp, n
  HAVING n >= 3
  UNION ALL
  SELECT s.grp, s.k + 1, s.n,
         0.5 * o.rev + 0.5 * (s.l + s.t),
         0.25 * ((0.5 * o.rev + 0.5 * (s.l + s.t)) - s.l) + 0.75 * s.t
  FROM state s JOIN ordered o ON o.grp = s.grp AND o.k = s.k + 1
  WHERE s.k < s.n
)
SELECT grp,
       CAST(n AS BIGINT) AS n_months,
       round(l, 6) AS level_r,
       round(t, 6) AS trend_r,
       round(l + 3.0 * t, 6) AS forecast_3_r
FROM state
WHERE k = n
ORDER BY grp
""",
    tags=("temporal", "forecast"),
)
def a360_holt_linear(spark, sf_dir):
    """Holt double exponential smoothing (level + linear trend,
    α=0.5, β=0.25) per order priority — the coupled recurrence
    l' = αy + (1−α)(l+t); t' = β(l'−l) + (1−β)t that NO window frame
    expresses (each step needs the previous SMOOTHED state, not a
    prefix aggregate), folded exactly like q229: one key shuffle
    collects each group's monthly series in order, a codegen
    ``aggregate`` lambda runs the recurrence left-to-right —
    sequential per group as the math demands, parallel across groups.
    Cross-engine float discipline: the smoothing constants are
    binary-exact (0.5/0.25/0.75), the series values are whole-dollar
    integers cast to double, and BOTH engines evaluate the recurrence
    with the identical expression tree (l' is literally recomputed
    inside the t' expression on both sides), so every intermediate
    double is bit-identical and round(·,6) hashes match. Forecast is
    the 3-months-ahead linear extrapolation l + 3t. The oracle runs
    the identical recurrence as a RECURSIVE CTE: DuckDB 1.0's
    list_reduce mis-evaluates lambdas whose struct accumulator has a
    field referencing another field's subexpression (verified with a
    minimal repro), so the fold-based oracle twin was unusable."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice"), 0).cast("bigint"))
        .cast("bigint")
        .cast("double")
        .alias("rev")
    )
    packed = (
        monthly.select("grp", F.struct("month", "rev").alias("s"))
        .groupBy("grp")
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")),
                lambda x: x.getField("rev"),
            ).alias("series")
        )
        .filter(F.size("series") >= 3)
    )
    l0 = F.element_at("series", 1)
    t0 = F.element_at("series", 2) - F.element_at("series", 1)
    rest = F.slice(F.col("series"), 3, F.size("series") - 2)
    half = F.lit(0.5)

    def step(acc, y):
        new_l = half * y + half * (acc.getField("l") + acc.getField("t"))
        new_t = (
            F.lit(0.25)
            * ((half * y + half * (acc.getField("l") + acc.getField("t")))
               - acc.getField("l"))
            + F.lit(0.75) * acc.getField("t")
        )
        return F.struct(new_l.alias("l"), new_t.alias("t"))

    folded = packed.select(
        "grp",
        F.size("series").cast("bigint").alias("n_months"),
        F.aggregate(
            rest, F.struct(l0.alias("l"), t0.alias("t")), step
        ).alias("st"),
    )
    return folded.select(
        "grp",
        "n_months",
        F.round(F.col("st.l"), 6).alias("level_r"),
        F.round(F.col("st.t"), 6).alias("trend_r"),
        F.round(F.col("st.l") + 3.0 * F.col("st.t"), 6).alias(
            "forecast_3_r"
        ),
    ).orderBy("grp")


@query(
    "a398_mm1_queueing_estimates",
    oracle="""
WITH arrivals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000
              AS BIGINT) AS span_s
  FROM events
), params AS (
  SELECT n, span_s,
         CAST(n - 1 AS DOUBLE) / span_s AS lam,
         -- service rate: modeled fixed 50 ms per event => mu = 20/s
         20.0 AS mu
  FROM arrivals
)
SELECT n, span_s,
       round(lam, 6) AS lambda_r,
       round(lam / mu, 6) AS rho_r,
       round((lam / mu) / (1.0 - lam / mu), 6) AS l_system_r,
       round((lam / mu) * (lam / mu) / (1.0 - lam / mu), 6) AS lq_r,
       round(1.0 / (mu - lam), 6) AS w_system_s_r
FROM params
""",
    tags=("temporal", "queueing"),
)
def a398_mm1_queueing_estimates(spark, sf_dir):
    """M/M/1 closed-form capacity estimates — the analytic counterpart
    of q332's exact Lindley replay: from the measured arrival rate
    λ = (n−1)/span (exact integer micros → one division) and a modeled
    service rate μ = 20/s, the steady-state utilization ρ = λ/μ,
    queue lengths L = ρ/(1−ρ), Lq = ρ²/(1−ρ), and waiting time
    W = 1/(μ−λ). The replay says what DID happen at this capacity;
    these formulas say what WILL happen at any other λ — together they
    are the capacity-planning pair. All inputs are exact integers; the
    five readouts are single double expressions. One min/max/count
    aggregate — the cheapest query in the inventory, by design: the
    point is the formula surface, not the scan."""
    ev = table(spark, sf_dir, "events")
    arr = ev.agg(
        F.count("*").cast("bigint").alias("n"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000)
        )
        .cast("bigint")
        .alias("span_s"),
    )
    lam = (F.col("n") - 1).cast("double") / F.col("span_s")
    mu = F.lit(20.0)
    rho = lam / mu
    return arr.select(
        "n",
        "span_s",
        F.round(lam, 6).alias("lambda_r"),
        F.round(rho, 6).alias("rho_r"),
        F.round(rho / (F.lit(1.0) - rho), 6).alias("l_system_r"),
        F.round(rho * rho / (F.lit(1.0) - rho), 6).alias("lq_r"),
        F.round(F.lit(1.0) / (mu - lam), 6).alias("w_system_s_r"),
    )


@query(
    "a402_hurst_exponent",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY day
), ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
  FROM daily
), chunked AS (
  SELECT m.m, (r.k - 1) // m.m AS chunk,
         ((r.k - 1) % m.m) + 1 AS j, r.x
  FROM ranked r CROSS JOIN (SELECT unnest([8, 16, 32]) AS m) m
), full_chunks AS (
  SELECT m, chunk FROM chunked GROUP BY m, chunk HAVING COUNT(*) = m
), stats AS (
  SELECT c.m, c.chunk, c.j, c.x,
         CAST(SUM(c.x) OVER w AS BIGINT) AS prefix,
         CAST(SUM(c.x) OVER (PARTITION BY c.m, c.chunk) AS BIGINT) AS s,
         CAST(SUM(c.x * c.x) OVER (PARTITION BY c.m, c.chunk) AS BIGINT)
           AS q
  FROM chunked c JOIN full_chunks f ON f.m = c.m AND f.chunk = c.chunk
  WINDOW w AS (PARTITION BY c.m, c.chunk ORDER BY c.j
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), per_chunk AS (
  SELECT m, chunk,
         CAST(MAX(m * prefix - j * s) AS BIGINT) AS umax,
         CAST(MIN(m * prefix - j * s) AS BIGINT) AS umin,
         CAST(MAX(m * q - s * s) AS BIGINT) AS var_m2
  FROM stats GROUP BY m, chunk
), rs AS (
  SELECT m,
         CAST(ROUND(ln(CAST(umax - umin AS DOUBLE)
                       / sqrt(CAST(var_m2 AS DOUBLE)))
                    * 1000000000.0, 0) AS BIGINT) AS lnrs_nano
  FROM per_chunk WHERE var_m2 > 0 AND umax > umin
), per_m AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         round(CAST(SUM(lnrs_nano) AS DOUBLE) / 1000000000.0
               / COUNT(*), 6) AS y
  FROM rs GROUP BY m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(n_chunks) AS BIGINT) AS n_chunks_total,
       round((COUNT(*) * SUM(ln(CAST(m AS DOUBLE)) * y)
              - SUM(ln(CAST(m AS DOUBLE))) * SUM(y))
             / (COUNT(*) * SUM(ln(CAST(m AS DOUBLE))
                               * ln(CAST(m AS DOUBLE)))
                - SUM(ln(CAST(m AS DOUBLE)))
                  * SUM(ln(CAST(m AS DOUBLE)))), 6) AS hurst_r
FROM per_m
""",
    tags=("temporal", "timeseries"),
)
def a402_hurst_exponent(spark, sf_dir):
    """Hurst exponent via rescaled-range (R/S) analysis of daily event
    volume — long-range dependence in one number: H≈0.5 is memoryless,
    H→1 means trends persist (and every naive forecast interval is too
    narrow — the deep reason q298's backtest can beat its nominal
    error bars). Integer-exactness: within each size-m chunk the
    cumulative deviation is U_j = m·prefix_j − j·S (exact BIGINT), so
    R/S = (maxU−minU)/√(m·Q−S²) is one double ratio of exact integer
    arguments per chunk, ln'd and nano-fixed before the per-size mean
    (q121 discipline). H is the closed-form regression slope of
    mean ln(R/S) on ln(m) over sizes {8,16,32}. Windows run on the
    calendar-sized daily summary; the fact table is scanned once."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    ranked = daily.select(
        "x", F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k")
    )
    ms = literal_frame(spark, [(8,), (16,), (32,)], "m long")
    chunked = ranked.crossJoin(F.broadcast(ms)).select(
        "m",
        F.expr("(k - 1) div m").alias("chunk"),
        (F.pmod(F.col("k") - 1, F.col("m")) + 1).alias("j"),
        "x",
    ).localCheckpoint(eager=False)  # feeds full-chunk filter + stats
    wchunk = Window.partitionBy("m", "chunk")
    wpre = wchunk.orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stats = chunked.select(
        "m",
        "chunk",
        "j",
        F.count("*").over(wchunk).alias("chunk_n"),
        F.sum("x").over(wpre).cast("bigint").alias("prefix"),
        F.sum("x").over(wchunk).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wchunk).cast("bigint").alias("q"),
    ).filter(F.col("chunk_n") == F.col("m"))
    u = F.col("m") * F.col("prefix") - F.col("j") * F.col("s")
    per_chunk = stats.groupBy("m", "chunk").agg(
        F.max(u).cast("bigint").alias("umax"),
        F.min(u).cast("bigint").alias("umin"),
        F.max(F.col("m") * F.col("q") - F.col("s") * F.col("s"))
        .cast("bigint")
        .alias("var_m2"),
    )
    rs = per_chunk.filter(
        (F.col("var_m2") > 0) & (F.col("umax") > F.col("umin"))
    ).select(
        "m",
        money(
            F.log(
                (F.col("umax") - F.col("umin")).cast("double")
                / F.sqrt(F.col("var_m2").cast("double"))
            ),
            9,
        )
        .alias("lnrs_nano"),
    )
    per_m = rs.groupBy("m").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.round(
            F.sum("lnrs_nano").cast("double") / 1e9 / F.count("*"), 6
        ).alias("y"),
    )
    lnm = F.log(F.col("m").cast("double"))
    return per_m.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.sum("n_chunks").cast("bigint").alias("n_chunks_total"),
        F.round(
            (
                F.count("*") * F.sum(lnm * F.col("y"))
                - F.sum(lnm) * F.sum("y")
            )
            / (
                F.count("*") * F.sum(lnm * lnm)
                - F.sum(lnm) * F.sum(lnm)
            ),
            6,
        ).alias("hurst_r"),
    )


@query(
    "a560_seasonal_naive_mase",
    oracle="""
WITH daily AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
), lagged AS (
  SELECT grp, d, c,
         lag(c, 7) OVER (PARTITION BY grp ORDER BY d) AS c7,
         lag(c, 1) OVER (PARTITION BY grp ORDER BY d) AS c1
  FROM daily
), err AS (
  SELECT grp,
         CAST(COUNT(c7) AS BIGINT) AS n_seasonal,
         CAST(COALESCE(SUM(abs(c - c7)), 0) AS BIGINT) AS sae_seasonal,
         CAST(COUNT(c1) AS BIGINT) AS n_naive,
         CAST(COALESCE(SUM(abs(c - c1)), 0) AS BIGINT) AS sae_naive,
         CAST(COALESCE(SUM(CASE WHEN c7 IS NOT NULL THEN
           CAST(ROUND(2000000.0 * abs(c - c7) / (c + c7), 0) AS BIGINT)
           END), 0) AS BIGINT) AS smape_micro_sum
  FROM lagged GROUP BY grp
)
SELECT grp, n_seasonal, sae_seasonal, sae_naive,
       round((CAST(sae_seasonal AS DOUBLE) / n_seasonal)
             / (CAST(sae_naive AS DOUBLE) / n_naive), 6) AS mase_r,
       round(smape_micro_sum / 1e6 / n_seasonal, 6) AS smape_r
FROM err
ORDER BY grp
""",
    tags=("temporal", "forecast"),
)
def a560_seasonal_naive_mase(spark, sf_dir):
    """Seasonal-naive forecast evaluation — MASE and sMAPE of the
    lag-7 ("same weekday last week") predictor of daily event volume,
    per type. This is the FORECAST-SCORING half the battery lacked:
    a360 fits a model and q185 uses the seasonal-naive baseline for
    anomaly flags; this GRADES that baseline against the scale-free
    benchmark every forecasting paper reports (MASE = seasonal MAE
    over one-step-naive MAE; <1 beats naive). Summary-first as always:
    the corpus folds to the ~30-day count series, two lag windows on
    the same per-type partition produce both error streams, absolute
    errors stay exact BIGINTs, per-day sMAPE terms (exact rationals
    2|e|/(c+c7)) micro-fix before the order-independent sum, and the
    two final ratios are closed-form doubles. Nothing after the first
    aggregate scales with the corpus."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("grp").orderBy("d")
    lagged = daily.select(
        "grp",
        "c",
        F.lag("c", 7).over(w).alias("c7"),
        F.lag("c", 1).over(w).alias("c1"),
    )
    err = lagged.groupBy("grp").agg(
        F.count("c7").cast("bigint").alias("n_seasonal"),
        F.coalesce(F.sum(F.abs(F.col("c") - F.col("c7"))), F.lit(0))
        .cast("bigint")
        .alias("sae_seasonal"),
        F.count("c1").cast("bigint").alias("n_naive"),
        F.coalesce(F.sum(F.abs(F.col("c") - F.col("c1"))), F.lit(0))
        .cast("bigint")
        .alias("sae_naive"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("c7").isNotNull(),
                    F.round(
                        2000000.0
                        * F.abs(F.col("c") - F.col("c7"))
                        / (F.col("c") + F.col("c7")),
                        0,
                    ).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("smape_micro_sum"),
    )
    return err.select(
        "grp",
        "n_seasonal",
        "sae_seasonal",
        "sae_naive",
        F.round(
            (F.col("sae_seasonal").cast("double") / F.col("n_seasonal"))
            / (F.col("sae_naive").cast("double") / F.col("n_naive")),
            6,
        ).alias("mase_r"),
        F.round(
            F.col("smape_micro_sum") / 1e6 / F.col("n_seasonal"), 6
        ).alias("smape_r"),
    ).orderBy("grp")


@query(
    "a421_seasonal_decompose",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         isodow(CAST(date_trunc('day', ts) AS DATE)) % 7 + 1 AS dow,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY d
), tr AS (
  SELECT d, dow, c,
         SUM(c) OVER w AS s7, COUNT(*) OVER w AS k7
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), det AS (
  SELECT d, dow,
         CAST(ROUND((c - s7 / 7.0) * 1000000.0, 0) AS BIGINT) AS det_micro
  FROM tr WHERE k7 = 7
), sidx AS (
  SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(ROUND(SUM(det_micro) / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
           AS raw_micro
  FROM det GROUP BY dow
), norm AS (
  SELECT dow, n_days,
         raw_micro - CAST(ROUND((SELECT SUM(raw_micro)
                                 / CAST(COUNT(*) AS DOUBLE) FROM sidx), 0)
                          AS BIGINT) AS seasonal_micro
  FROM sidx
), resid AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dm) AS BIGINT) AS s1, CAST(SUM(dm * dm) AS BIGINT) AS s2,
         CAST(SUM(rm) AS BIGINT) AS r1, CAST(SUM(rm * rm) AS BIGINT) AS r2
  FROM (SELECT det_micro AS dm,
               det_micro - (SELECT seasonal_micro FROM norm
                            WHERE norm.dow = det.dow) AS rm
        FROM det)
)
SELECT n.dow, n.n_days, n.seasonal_micro,
       round(n.seasonal_micro / 1e6, 6) AS seasonal_r,
       round(1.0 - (CAST(r.r2 AS DOUBLE) / r.n
                    - (CAST(r.r1 AS DOUBLE) / r.n)
                      * (CAST(r.r1 AS DOUBLE) / r.n))
                   / (CAST(r.s2 AS DOUBLE) / r.n
                      - (CAST(r.s1 AS DOUBLE) / r.n)
                        * (CAST(r.s1 AS DOUBLE) / r.n)),
             6) AS seasonal_strength_r
FROM norm n CROSS JOIN resid r
ORDER BY n.dow
""",
    tags=("temporal", "forecast"),
)
def a421_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of the daily event
    series — centered 7-day moving-average trend, zero-mean weekly
    seasonal indices from the detrended means, and the
    seasonality-strength statistic 1 − Var(resid)/Var(detrended) that
    says how much of the non-trend variation the weekly cycle
    explains (the decision input for a114's seasonal-naive choice, q185's
    baseline, and a411's blocked design). Determinism: the trend is an exact
    integer-sum/7 single division, every detrended value micro-fixes
    to BIGINT before any cross-row mean, seasonal indices are rounded
    integer means re-centered by an integer subtraction, and both
    variances come from exact Σx/Σx² micro sums — the house
    summary-first float discipline end to end. One corpus aggregate;
    everything else is calendar-sized."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").cast("bigint").alias("c")).select(
        "d", F.dayofweek("d").alias("dow"), "c"
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "dow",
        "c",
        F.sum("c").over(w7).alias("s7"),
        F.count("*").over(w7).alias("k7"),
    )
    det = tr.filter(F.col("k7") == 7).select(
        "d",
        "dow",
        money(F.col("c") - F.col("s7") / 7.0, 6).alias("det_micro"),
    ).localCheckpoint(eager=False)
    sidx = det.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(F.sum("det_micro") / F.count("*").cast("double"), 0)
        .cast("bigint")
        .alias("raw_micro"),
    )
    gmean = sidx.agg(
        F.round(F.sum("raw_micro") / F.count("*").cast("double"), 0)
        .cast("bigint")
        .alias("gm")
    )
    norm = sidx.join(F.broadcast(gmean)).select(
        "dow",
        "n_days",
        (F.col("raw_micro") - F.col("gm")).alias("seasonal_micro"),
    ).localCheckpoint(eager=False)
    resid = (
        det.join(F.broadcast(norm.select("dow", "seasonal_micro")), "dow")
        .select(
            F.col("det_micro").alias("dm"),
            (F.col("det_micro") - F.col("seasonal_micro")).alias("rm"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("dm").cast("bigint").alias("s1"),
            F.sum(F.col("dm") * F.col("dm")).cast("bigint").alias("s2"),
            F.sum("rm").cast("bigint").alias("r1"),
            F.sum(F.col("rm") * F.col("rm")).cast("bigint").alias("r2"),
        )
    )
    var_d = F.col("s2").cast("double") / F.col("n") - (
        F.col("s1").cast("double") / F.col("n")
    ) * (F.col("s1").cast("double") / F.col("n"))
    var_r = F.col("r2").cast("double") / F.col("n") - (
        F.col("r1").cast("double") / F.col("n")
    ) * (F.col("r1").cast("double") / F.col("n"))
    return (
        norm.join(F.broadcast(resid))
        .select(
            "dow",
            "n_days",
            "seasonal_micro",
            F.round(F.col("seasonal_micro") / 1e6, 6).alias("seasonal_r"),
            F.round(1.0 - var_r / var_d, 6).alias("seasonal_strength_r"),
        )
        .orderBy("dow")
    )


@query(
    "a569_fulfillment_lead_time",
    oracle="""
WITH lt AS (
  SELECT o.o_orderpriority AS priority,
         CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
              AS BIGINT) AS lead_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), stats AS (
  SELECT priority,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(lead_days) AS BIGINT) AS total_days,
         CAST(MIN(lead_days) AS BIGINT) AS min_days,
         CAST(MAX(lead_days) AS BIGINT) AS max_days,
         CAST(SUM(CASE WHEN lead_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_over_90
  FROM lt GROUP BY priority
)
SELECT priority, n_lines,
       round(CAST(total_days AS DOUBLE) / n_lines, 6) AS avg_lead_days_r,
       min_days, max_days,
       round(CAST(n_over_90 AS DOUBLE) / n_lines, 6) AS sla_breach_rate_r
FROM stats
ORDER BY priority
""",
    tags=("temporal", "ops"),
)
def a569_fulfillment_lead_time(spark, sf_dir):
    """Order-to-ship fulfillment lead time per priority class — the
    operations KPI (mean/min/max lead days + the 90-day SLA breach
    rate) that joins the order header's commitment date to every
    line's actual ship date: the one fact⋈fact shuffle the analysis
    needs, with all statistics as exact integer day-count aggregates
    (DATE subtraction is exact in both engines) folded map-side after
    the join. The SLA breach rate per priority is the contract
    question a warehouse dashboard refreshes hourly; at 100 TB the
    join shuffles on the order key both tables are already
    concentrated around, and AQE picks the strategy (no forced
    broadcast of the sf-scaled orders side)."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lt = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias(
            "lead_days"
        ),
    )
    stats = lt.groupBy("priority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum("lead_days").cast("bigint").alias("total_days"),
        F.min("lead_days").cast("bigint").alias("min_days"),
        F.max("lead_days").cast("bigint").alias("max_days"),
        F.sum((F.col("lead_days") > 90).cast("int"))
        .cast("bigint")
        .alias("n_over_90"),
    )
    return stats.select(
        "priority",
        "n_lines",
        F.round(
            F.col("total_days").cast("double") / F.col("n_lines"), 6
        ).alias("avg_lead_days_r"),
        "min_days",
        "max_days",
        F.round(
            F.col("n_over_90").cast("double") / F.col("n_lines"), 6
        ).alias("sla_breach_rate_r"),
    ).orderBy("priority")


@query(
    "a431_holt_winters",
    oracle="""
WITH RECURSIVE daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY d
), series AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
         CAST(c AS DOUBLE) AS x,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM daily
), init AS (
  SELECT CAST(SUM(CASE WHEN k BETWEEN 1 AND 7 THEN x END) AS DOUBLE) AS a7,
         CAST(SUM(CASE WHEN k BETWEEN 8 AND 14 THEN x END) AS DOUBLE) AS b7,
         MAX(CASE WHEN k = 1 THEN x END) AS x1,
         MAX(CASE WHEN k = 2 THEN x END) AS x2,
         MAX(CASE WHEN k = 3 THEN x END) AS x3,
         MAX(CASE WHEN k = 4 THEN x END) AS x4,
         MAX(CASE WHEN k = 5 THEN x END) AS x5,
         MAX(CASE WHEN k = 6 THEN x END) AS x6,
         MAX(CASE WHEN k = 7 THEN x END) AS x7,
         CAST(MIN(n) AS BIGINT) AS n
  FROM series
), state AS (
  SELECT CAST(7 AS BIGINT) AS k, n,
         CAST(a7 / 7.0 AS DOUBLE) AS l,
         CAST((b7 - a7) / 49.0 AS DOUBLE) AS b,
         CAST(x1 - a7 / 7.0 AS DOUBLE) AS s1,
         CAST(x2 - a7 / 7.0 AS DOUBLE) AS s2,
         CAST(x3 - a7 / 7.0 AS DOUBLE) AS s3,
         CAST(x4 - a7 / 7.0 AS DOUBLE) AS s4,
         CAST(x5 - a7 / 7.0 AS DOUBLE) AS s5,
         CAST(x6 - a7 / 7.0 AS DOUBLE) AS s6,
         CAST(x7 - a7 / 7.0 AS DOUBLE) AS s7
  FROM init
  UNION ALL
  SELECT st.k + 1, st.n,
         0.5 * (sr.x - st.s1) + 0.5 * (st.l + st.b),
         0.25 * ((0.5 * (sr.x - st.s1) + 0.5 * (st.l + st.b)) - st.l)
           + 0.75 * st.b,
         st.s2, st.s3, st.s4, st.s5, st.s6, st.s7,
         0.25 * (sr.x - (0.5 * (sr.x - st.s1) + 0.5 * (st.l + st.b)))
           + 0.75 * st.s1
  FROM state st JOIN series sr ON sr.k = st.k + 1
  WHERE st.k < st.n
)
SELECT CAST(n AS BIGINT) AS n_days,
       round(l, 6) AS level_r,
       round(b, 6) AS trend_r,
       round(l + 1.0 * b + s1, 6) AS forecast_1_r,
       round(l + 2.0 * b + s2, 6) AS forecast_2_r,
       round(l + 3.0 * b + s3, 6) AS forecast_3_r
FROM state WHERE k = n
""",
    tags=("temporal", "forecast"),
)
def a431_holt_winters(spark, sf_dir):
    """Holt-Winters additive triple exponential smoothing (level +
    trend + weekly seasonal state, α=0.5 β=0.25 γ=0.25 — all
    binary-exact) over the daily event total: the seasonal upgrade of
    a360's Holt (which a421's decomposition measures the NEED for —
    its seasonality strength says whether the γ state earns its
    keep). The 9-field state (l, b, 7 rotating seasonals) makes this
    the hardest recurrence in the battery: each step consumes the
    seasonal computed 7 steps ago (tuple rotation s₂..s₇,s_new — no
    window frame expresses state feeding state), folded left-to-right
    by one codegen ``aggregate`` lambda with l′ recomputed TEXTUALLY
    inside the b′ and s′ expressions (the a360 bit-identity
    discipline), init from the first two weeks' exact integer sums.
    The oracle is the identical recurrence as a RECURSIVE CTE with
    every base column CAST AS DOUBLE (the a117 DECIMAL trap).
    Forecasts f_h = l + h·b + s_h fall out of the final state. One
    count aggregate touches the corpus; the fold sees ~30 doubles."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count("*").cast("bigint").alias("c"))
    packed = (
        daily.select(F.struct("d", F.col("c").cast("double").alias("x")).alias("s"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")), lambda s: s.getField("x")
            ).alias("xs")
        )
    )
    x = lambda i: F.element_at("xs", i)  # noqa: E731
    a7 = x(1) + x(2) + x(3) + x(4) + x(5) + x(6) + x(7)
    b7 = x(8) + x(9) + x(10) + x(11) + x(12) + x(13) + x(14)
    init = F.struct(
        (a7 / 7.0).alias("l"),
        ((b7 - a7) / 49.0).alias("b"),
        *[(x(i) - a7 / 7.0).alias(f"s{i}") for i in range(1, 8)],
    )
    rest = F.slice(F.col("xs"), 8, F.size("xs") - 7)

    def step(acc, xv):
        lp = 0.5 * (xv - acc.getField("s1")) + 0.5 * (
            acc.getField("l") + acc.getField("b")
        )
        bp = (
            0.25
            * (
                (
                    0.5 * (xv - acc.getField("s1"))
                    + 0.5 * (acc.getField("l") + acc.getField("b"))
                )
                - acc.getField("l")
            )
            + 0.75 * acc.getField("b")
        )
        snew = (
            0.25
            * (
                xv
                - (
                    0.5 * (xv - acc.getField("s1"))
                    + 0.5 * (acc.getField("l") + acc.getField("b"))
                )
            )
            + 0.75 * acc.getField("s1")
        )
        return F.struct(
            lp.alias("l"),
            bp.alias("b"),
            acc.getField("s2").alias("s1"),
            acc.getField("s3").alias("s2"),
            acc.getField("s4").alias("s3"),
            acc.getField("s5").alias("s4"),
            acc.getField("s6").alias("s5"),
            acc.getField("s7").alias("s6"),
            snew.alias("s7"),
        )

    folded = packed.select(
        F.size("xs").cast("bigint").alias("n_days"),
        F.aggregate(rest, init, step).alias("st"),
    )
    return folded.select(
        "n_days",
        F.round(F.col("st.l"), 6).alias("level_r"),
        F.round(F.col("st.b"), 6).alias("trend_r"),
        F.round(F.col("st.l") + 1.0 * F.col("st.b") + F.col("st.s1"), 6).alias(
            "forecast_1_r"
        ),
        F.round(F.col("st.l") + 2.0 * F.col("st.b") + F.col("st.s2"), 6).alias(
            "forecast_2_r"
        ),
        F.round(F.col("st.l") + 3.0 * F.col("st.b") + F.col("st.s3"), 6).alias(
            "forecast_3_r"
        ),
    )


@query(
    "a442_allen_interval_relations",
    oracle="""
WITH span AS (
  SELECT o.o_custkey AS cust, o.o_orderkey AS ok,
         CAST(o.o_orderdate AS DATE) AS s,
         CAST(MAX(l.l_shipdate) AS DATE) AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY cust, ok, s
), seq AS (
  SELECT cust, s AS a_s, e AS a_e,
         lead(s) OVER w AS b_s, lead(e) OVER w AS b_e
  FROM span WINDOW w AS (PARTITION BY cust ORDER BY s, ok)
), rel AS (
  SELECT CASE
           WHEN a_e < b_s THEN 'precedes'
           WHEN a_e = b_s THEN 'meets'
           WHEN a_s < b_s AND b_s < a_e AND a_e < b_e THEN 'overlaps'
           WHEN a_s < b_s AND a_e = b_e THEN 'finished_by'
           WHEN a_s < b_s AND b_e < a_e THEN 'contains'
           WHEN a_s = b_s AND a_e < b_e THEN 'starts'
           WHEN a_s = b_s AND a_e = b_e THEN 'equals'
           ELSE 'started_by'
         END AS relation
  FROM seq WHERE b_s IS NOT NULL
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rel
)
SELECT r.relation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(COUNT(*) AS DOUBLE) / MAX(t.n), 6) AS share_r
FROM rel r CROSS JOIN tot t
GROUP BY r.relation
ORDER BY r.relation
""",
    tags=("temporal",),
)
def a442_allen_interval_relations(spark, sf_dir):
    """Allen's interval algebra census over per-customer order
    lifecycles — the 13-relation taxonomy (precedes/meets/overlaps/
    finished-by/contains/starts/equals/started-by + inverses) that
    temporal reasoning, process mining, and conflict detection are
    built on. Each order's interval is [orderdate, max shipdate]
    (one group-aggregate over lineitem); CONSECUTIVE intervals per
    customer come from a lag-free lead() window — never an
    interval×interval self-join, which is the q143 overlap-JOIN's
    job; this operator instead CLASSIFIES ordered neighbor pairs, so
    only the 8 relations consistent with a_s ≤ b_s can occur and the
    window ordering (start, orderkey) makes the pair set exact. Pure
    date comparisons and integer counts — no float surface except
    the final share. One shuffle on the customer key at any scale."""
    span = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "lineitem"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias("ok"),
            F.col("o_orderdate").cast("date").alias("s"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("e"))
    )
    w = Window.partitionBy("cust").orderBy("s", "ok")
    seq = span.select(
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
        F.lead("s").over(w).alias("b_s"),
        F.lead("e").over(w).alias("b_e"),
    ).filter(F.col("b_s").isNotNull())
    a_s, a_e, b_s, b_e = (F.col(c) for c in ("a_s", "a_e", "b_s", "b_e"))
    rel = seq.select(
        F.when(a_e < b_s, "precedes")
        .when(a_e == b_s, "meets")
        .when((a_s < b_s) & (b_s < a_e) & (a_e < b_e), "overlaps")
        .when((a_s < b_s) & (a_e == b_e), "finished_by")
        .when((a_s < b_s) & (b_e < a_e), "contains")
        .when((a_s == b_s) & (a_e < b_e), "starts")
        .when((a_s == b_s) & (a_e == b_e), "equals")
        .otherwise("started_by")
        .alias("relation")
    ).localCheckpoint(eager=False)  # rel feeds the total AND the census
    tot = rel.agg(F.count("*").cast("bigint").alias("n"))
    return (
        rel.crossJoin(F.broadcast(tot))
        .groupBy("relation")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.count("*").cast("double") / F.max("n"), 6
            ).alias("share_r"),
        )
        .orderBy("relation")
    )


@query(
    "a446_isotonic_regression",
    oracle="""
WITH wk AS (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS sum_cents
  FROM orders GROUP BY week
), ser AS (
  SELECT week, n_orders,
         (sum_cents * 10000) // n_orders AS y_micro,
         CAST(row_number() OVER (ORDER BY week) AS BIGINT) AS i
  FROM wk
), pre AS (
  SELECT i, week, n_orders, y_micro,
         CAST(SUM(y_micro) OVER (ORDER BY i) AS BIGINT) AS p
  FROM ser
), pairs AS (
  SELECT j.i AS j, k.i AS k,
         (k.p - (j.p - j.y_micro)) // (k.i - j.i + 1) AS a_micro
  FROM pre j JOIN pre k ON j.i <= k.i
), suffix_min AS (
  SELECT j, k,
         CAST(MIN(a_micro) OVER (
           PARTITION BY j ORDER BY k DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS m
  FROM pairs
), fit AS (
  SELECT k AS i,
         CAST(MAX(m) OVER (
           PARTITION BY k ORDER BY j
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS fit_micro,
         j
  FROM suffix_min
)
SELECT s.week, s.n_orders, s.y_micro, f.fit_micro
FROM fit f JOIN pre s ON s.i = f.i
WHERE f.j = f.i
ORDER BY s.week
""",
    tags=("temporal", "ml"),
)
def a446_isotonic_regression(spark, sf_dir):
    """Isotonic (monotone nondecreasing) regression of weekly mean
    order value — the shape-constrained fit behind probability
    calibration, dose-response curves, and monotone trend extraction
    — via the classical min-max characterization
    f_i = max_{j≤i} min_{k≥i} mean(y[j..k]), which replaces the
    inherently sequential pool-adjacent-violators algorithm with
    three data-parallel window passes: interval means from prefix
    sums, a suffix-min per start index, a prefix-max per end index.
    The O(w²) interval table is quadratic in WEEKS (~350 at every
    sf — the weekly rollup is the only stage that sees the fact
    table), so the fit core is scale-free. All arithmetic is integer
    micro-units with explicit floor division (Spark `div` ≡ DuckDB
    `//`): monotonicity of the result is a structural property of
    the max-of-min formula, so flooring cannot break it, and there
    is no float anywhere."""
    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("week")
    ).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("sum_cents"),
    )
    ser = wk.select(
        "week",
        "n_orders",
        F.expr("(sum_cents * 10000) div n_orders").alias("y_micro"),
        F.row_number().over(Window.orderBy("week")).cast("bigint").alias("i"),
    )
    pre = ser.select(
        "i",
        "week",
        "n_orders",
        "y_micro",
        F.sum("y_micro")
        .over(
            Window.orderBy("i").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("p"),
    ).localCheckpoint(eager=False)
    j = pre.select(
        F.col("i").alias("j"), F.col("p").alias("pj"), F.col("y_micro").alias("yj")
    )
    k = pre.select(F.col("i").alias("k"), F.col("p").alias("pk"))
    pairs = (
        j.join(k, F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            F.expr("(pk - (pj - yj)) div (k - j + 1)").alias("a_micro"),
        )
    )
    suffix_min = pairs.select(
        "j",
        "k",
        F.min("a_micro")
        .over(
            Window.partitionBy("j")
            .orderBy(F.col("k").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("m"),
    )
    fit = suffix_min.select(
        F.col("k").alias("i"),
        "j",
        F.max("m")
        .over(
            Window.partitionBy("k")
            .orderBy("j")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("bigint")
        .alias("fit_micro"),
    ).filter(F.col("j") == F.col("i"))
    return (
        fit.join(pre, "i")
        .select("week", "n_orders", "y_micro", "fit_micro")
        .orderBy("week")
    )


def _haar_oracle(levels: int = 8) -> str:
    """Unrolled Haar pyramid: level ℓ halves the series by pairwise
    integer sums and emits (A−B)²/2^ℓ detail energies (orthonormal
    scaling applied as an exact power-of-two division at the end)."""
    parts = ["""
WITH day0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY d ORDER BY d LIMIT 256
), lv0 AS (
  SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS i, y AS s
  FROM day0
)"""]
    for k in range(1, levels + 1):
        src = "lv0" if k == 1 else f"s{k - 1}"
        parts.append(f""", lv{k} AS (
  SELECT i // 2 AS i,
         CAST(SUM(CASE WHEN i % 2 = 0 THEN s ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN i % 2 = 1 THEN s ELSE 0 END) AS BIGINT) AS b
  FROM {src} GROUP BY i // 2
), en{k} AS (
  SELECT {k} AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
         SUM(CAST((a - b) AS DOUBLE) * (a - b)) / {2 ** k} AS energy
  FROM lv{k}
), s{k} AS (
  SELECT i, a + b AS s FROM lv{k}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT level, n_coeffs, energy FROM en{k}" for k in range(1, levels + 1)
    )
    parts.append(f""", all_lv AS (
  {union}
), tot AS (
  SELECT SUM(energy) AS e_detail FROM all_lv
)
SELECT a.level, a.n_coeffs, round(a.energy, 6) AS energy_r,
       round(a.energy / t.e_detail, 6) AS share_r
FROM all_lv a CROSS JOIN tot t
ORDER BY a.level""")
    return "".join(parts)


@query(
    "a447_haar_wavelet_energy",
    oracle=_haar_oracle(),
    tags=("temporal", "signal"),
)
def a447_haar_wavelet_energy(spark, sf_dir):
    """Haar wavelet multi-resolution energy decomposition of the
    daily order-volume series (first 256 observed days) — the
    signal-processing complement to the ACF/seasonal operators:
    energy at level ℓ measures variability at the 2^ℓ-day scale, so
    a weekly rhythm lights up levels 2–3 and a drifting trend piles
    into the coarse levels. Everything is INTEGER arithmetic: each
    level halves the series by pairwise sums (A, B of sibling
    blocks), the orthonormal detail coefficient (A−B)/√(2^ℓ) enters
    only as its squared energy (A−B)²/2^ℓ — an exact power-of-two
    division of an exact integer square, bit-identical on any
    engine and any summation order. Eight unrolled levels = eight
    tiny groupBys on a 256-row series; the only data-scale stage is
    the daily rollup. Parseval ties Σ level energies + coarse² /256
    to Σy² as a free audit."""
    o = table(spark, sf_dir, "orders")
    day = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count("*").cast("bigint").alias("y"))
        .orderBy("d")
        .limit(256)
    )
    # The daily rollup is the only data-scale stage; the cascade itself
    # touches ≤256 integers, so it runs DRIVER-SIDE in exact Python int
    # arithmetic (the q249/a448 recipe) instead of 8 sequential
    # checkpoint jobs + a 9-branch union. Bit-exactness: every (A−B)²
    # is an exact integer whose level sum stays far below 2^53, so the
    # old double F.sum was order-independent-exact and the Python int
    # sum reproduces it digit-for-digit; energy = e_int / 2^k is an
    # exact power-of-two scaling in both engines, and e_detail is a sum
    # of dyadic rationals that is likewise exact. Final rounding stays
    # ENGINE-side (F.round half-away) on the literal frame.
    s = [int(r["y"]) for r in day.collect()]
    rows = []
    for k in range(1, 9):
        ab = [
            (
                sum(s[2 * j : 2 * j + 1]),
                sum(s[2 * j + 1 : 2 * j + 2]),
            )
            for j in range((len(s) + 1) // 2)
        ]
        e_int = sum((a - b) * (a - b) for a, b in ab)
        energy = (
            float(e_int) / float(2**k) if ab else None
        )
        rows.append((k, len(ab), energy))
        s = [a + b for a, b in ab]
    e_detail = sum(r[2] for r in rows if r[2] is not None)
    base = literal_frame(
        spark,
        [(lvl, n, en, float(e_detail)) for (lvl, n, en) in rows],
        "level int, n_coeffs bigint, energy double, e_detail double",
    )
    return base.select(
        "level",
        "n_coeffs",
        F.round(F.col("energy"), 6).alias("energy_r"),
        F.round(F.col("energy") / F.col("e_detail"), 6).alias("share_r"),
    ).orderBy("level")


@query(
    "a456_matrix_profile_discords",
    oracle="""
WITH wk AS (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY week
), ser AS (
  SELECT week, y, CAST(row_number() OVER (ORDER BY week) AS BIGINT) AS i
  FROM wk
), win AS (
  SELECT i, week,
         list(CAST(y AS DOUBLE)) OVER w AS arr,
         CAST(SUM(y) OVER w AS BIGINT) AS s1,
         CAST(SUM(y * y) OVER w AS BIGINT) AS s2,
         CAST(COUNT(*) OVER w AS BIGINT) AS m
  FROM ser
  WINDOW w AS (ORDER BY i ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)
), zed AS (
  SELECT i, week,
         list_transform(arr, x ->
           (x - s1 / 8.0)
           / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / 8.0)
                  / 8.0)) AS z
  FROM win
  WHERE m = 8 AND CAST(s2 AS DOUBLE) * 8.0 > CAST(s1 AS DOUBLE) * s1
), pairs AS (
  SELECT a.i, a.week,
         CAST(ROUND(sqrt(list_reduce(list_transform(range(8), q ->
           (a.z[q + 1] - b.z[q + 1]) * (a.z[q + 1] - b.z[q + 1])),
           (acc, x) -> acc + x)) * 1000000000.0, 0) AS BIGINT) AS d_fp
  FROM zed a JOIN zed b ON abs(a.i - b.i) >= 8
), mp AS (
  SELECT i, week, CAST(MIN(d_fp) AS BIGINT) AS mp_fp
  FROM pairs GROUP BY i, week
)
SELECT i, week, round(mp_fp / 1000000000.0, 6) AS mp_r
FROM mp
ORDER BY mp_fp DESC, i
LIMIT 10
""",
    tags=("temporal", "anomaly"),
)
def a456_matrix_profile_discords(spark, sf_dir):
    """Matrix-profile discord discovery on the weekly volume series —
    the shape-based anomaly detector the z-score family (q125/q306)
    cannot replicate: a week whose VALUE is normal but whose
    8-week-window SHAPE matches nothing else in the history gets the
    largest profile value MP_i = min_j d(z_i, z_j) (z-normalized
    subsequence distance, |i−j| ≥ 8 exclusion so a window never
    matches its own overlap). Window means and variances come from
    exact integer frame sums (μ = S/8 and σ² are dyadic rationals, so
    the z-normalizations are deterministic IEEE doubles on both
    engines), pair distances are fixed-pointed, and the profile MIN is
    an exact BIGINT. The O(windows²) pair table is quadratic in WEEKS
    (~340 at every sf — the weekly rollup is the only stage that sees
    the fact table), the same scale-freedom argument as isotonic
    a446. Flat-variance windows are excluded (σ = 0 has no z-shape).
    Output: the top-10 discord windows."""
    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("week")
    ).agg(F.count("*").cast("bigint").alias("y"))
    ser = wk.select(
        "week",
        "y",
        F.row_number().over(Window.orderBy("week")).cast("bigint").alias("i"),
    )
    w = (
        Window.orderBy("i").rowsBetween(Window.currentRow, 7)
    )
    win = ser.select(
        "i",
        "week",
        F.collect_list(F.col("y").cast("double")).over(w).alias("arr"),
        F.sum("y").over(w).cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("s2"),
        F.count("*").over(w).cast("bigint").alias("m"),
    )
    sigma = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / 8.0
        )
        / 8.0
    )
    zed = (
        win.filter(
            (F.col("m") == 8)
            & (
                F.col("s2").cast("double") * 8.0
                > F.col("s1").cast("double") * F.col("s1")
            )
        )
        .select(
            "i",
            "week",
            F.transform(
                "arr", lambda x: (x - F.col("s1") / 8.0) / sigma
            ).alias("z"),
        )
        .localCheckpoint(eager=False)
    )
    a = zed.select("i", "week", F.col("z").alias("za"))
    b = zed.select(F.col("i").alias("j"), F.col("z").alias("zb"))
    d_fp = money(
        F.sqrt(
            F.aggregate(
                F.zip_with("za", "zb", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        9,
    )
    mp = (
        a.join(b, F.abs(F.col("i") - F.col("j")) >= 8)
        .select("i", "week", d_fp.alias("d_fp"))
        .groupBy("i", "week")
        .agg(F.min("d_fp").cast("bigint").alias("mp_fp"))
    )
    return (
        mp.select(
            "i", "week", F.round(F.col("mp_fp") / 1000000000.0, 6).alias("mp_r"),
            F.col("mp_fp").alias("_fp"),
        )
        .orderBy(F.col("_fp").desc(), "i")
        .limit(10)
        .drop("_fp")
    )


@query(
    "a457_sax_symbolization",
    oracle="""
WITH wk AS (
  SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY week
), ser AS (
  SELECT week, y,
         CAST(row_number() OVER (ORDER BY week) - 1 AS BIGINT) AS i
  FROM wk
), gmom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s1,
         CAST(SUM(y * y) AS BIGINT) AS s2
  FROM ser
), paa AS (
  SELECT i // 8 AS seg,
         CAST(MIN(week) AS DATE) AS week_start,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM ser GROUP BY i // 8 HAVING COUNT(*) = 8
), sym AS (
  SELECT p.seg, p.week_start,
         (CAST(p.s AS DOUBLE) / 8.0 - CAST(g.s1 AS DOUBLE) / g.n)
         / sqrt((CAST(g.s2 AS DOUBLE) - CAST(g.s1 AS DOUBLE) * g.s1 / g.n)
                / g.n) AS znorm
  FROM paa p CROSS JOIN gmom g
)
SELECT seg, week_start, round(znorm, 6) AS paa_znorm_r,
       CASE WHEN znorm < -0.6744897501960817 THEN 'a'
            WHEN znorm < 0.0 THEN 'b'
            WHEN znorm < 0.6744897501960817 THEN 'c'
            ELSE 'd' END AS symbol
FROM sym
ORDER BY seg
""",
    tags=("temporal", "indexing"),
)
def a457_sax_symbolization(spark, sf_dir):
    """SAX (Symbolic Aggregate approXimation) of the weekly volume
    series — the representation that turns a numeric time series into
    a short word over a small alphabet so similarity search,
    frequent-motif counting, and grep-style pattern matching run on
    SYMBOLS (the indexing companion to a456's exact discord sweep):
    piecewise-aggregate means over 8-week segments, global
    z-normalization, then quartile breakpoints of the standard normal
    (±0.6744897501960817, embedded as identical literals — the q240
    recipe) map each segment to {a,b,c,d}. Segment means and the
    global moments are exact integer sums (the only divisions are
    IEEE-deterministic), so the symbol for a value sitting exactly ON
    a breakpoint is still decided identically by both engines. One
    weekly rollup touches the fact table; everything after is
    O(weeks). The breakpoint CASE ladder IS the SAX lower-bounding
    contract: equal symbols guarantee bounded true distance."""
    o = table(spark, sf_dir, "orders")
    wk = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("week")
    ).agg(F.count("*").cast("bigint").alias("y"))
    ser = wk.select(
        "week",
        "y",
        (F.row_number().over(Window.orderBy("week")) - 1)
        .cast("bigint")
        .alias("i"),
    ).localCheckpoint(eager=False)
    glob = ser.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    paa = (
        ser.groupBy(F.expr("i div 8").alias("seg"))
        .agg(
            F.min("week").cast("date").alias("week_start"),
            F.sum("y").cast("bigint").alias("s"),
            F.count("*").cast("bigint").alias("m"),
        )
        .filter(F.col("m") == 8)
    )
    znorm = (
        F.col("s").cast("double") / 8.0
        - F.col("s1").cast("double") / F.col("n")
    ) / F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n")
        )
        / F.col("n")
    )
    bp = 0.6744897501960817
    return (
        paa.crossJoin(F.broadcast(glob))
        .select("seg", "week_start", znorm.alias("znorm"))
        .select(
            "seg",
            "week_start",
            F.round(F.col("znorm"), 6).alias("paa_znorm_r"),
            F.when(F.col("znorm") < -bp, "a")
            .when(F.col("znorm") < 0.0, "b")
            .when(F.col("znorm") < bp, "c")
            .otherwise("d")
            .alias("symbol"),
        )
        .orderBy("seg")
    )
