"""Product-analytics battery: distribution ranking stats, single-pass
table profiling, event-transition matrices, and cohort retention.

The sequence ops (transitions, retention) are the clickstream shapes a
behavioral pipeline runs daily at full-event-log scale: each is one
shuffle on the user key plus a small aggregate, no self-joins — the
lag()-window formulation replaces the event⋈event "next event" join,
which would shuffle the log twice and explode on hot users.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import cooccurrence_pairs
from ..functions.text import md5_bits, money
from ..sources import table
from ._cohorts import churn_panel, recency_score
from . import query
from ..operators.core import literal_frame


@query(
    "q109_ranking_stats",
    oracle="""
SELECT o_orderkey,
       CAST(ntile(4) OVER w AS INT) AS price_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS total_cents
FROM orders
WHERE o_totalprice > 400000.0
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
    tags=("window",),
)
def q109_ranking_stats(spark, sf_dir):
    """Distribution ranking battery: ntile / percent_rank / cume_dist
    over a unique total order (price, orderkey) so every rank is
    deterministic. percent_rank and cume_dist are single divisions of
    exact integers — identical doubles in both engines; rounding is
    belt-and-braces. Global window = single-partition sort, so the
    operator is gated on a selective filter; an unfiltered variant would
    partition the window by a bucketing key first."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            F.ntile(4).over(w).cast("int").alias("price_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            money("o_totalprice").alias("total_cents"),
        )
        .orderBy("o_orderkey")
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@query(
    "q110_table_profile",
    oracle="WITH s AS (\n  SELECT "
    + ",\n         ".join(
        f"CAST(COUNT({c}) AS BIGINT) AS n_{c}, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_{c}, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS nd_{c}, "
        f"MIN({c}) AS mn_{c}, MAX({c}) AS mx_{c}"
        for c in _PROFILE_COLS
    )
    + "\n  FROM lineitem\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, n_{c} AS n_present, nn_{c} AS n_null, "
        f"nd_{c} AS n_distinct, mn_{c} AS min_val, mx_{c} AS max_val FROM s"
        for c in _PROFILE_COLS
    )
    + "\nORDER BY col_name",
    tags=("agg", "profile"),
)
def q110_table_profile(spark, sf_dir):
    """Single-pass column profiler (the ANALYZE TABLE shape): presence,
    null count, exact distinct, min, max for each profiled column,
    emitted long-format via stack() over ONE aggregate row — one scan,
    one aggregation, no matter how many columns are profiled. The
    multi-count_distinct aggregate plans through Spark's expand operator
    (rows × n_profiled pre-shuffle), the standard cost of exact
    multi-column distincts; swap to approx_count_distinct at lake scale
    if exactness isn't required."""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).cast("bigint").alias(f"n_{c}"),
            F.sum(F.col(c).isNull().cast("int")).cast("bigint").alias(f"nn_{c}"),
            F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_{c}, nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_present, n_null, n_distinct, min_val, max_val)"
    ).orderBy("col_name")


@query(
    "q111_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
ORDER BY n_transitions DESC, prev_type, next_type
""",
    tags=("window", "events"),
)
def q111_event_transitions(spark, sf_dir):
    """Event-transition matrix (behavioral bigrams): lag() per user over
    (ts, event_id) — one shuffle on user_id — then a tiny type×type
    aggregate. The self-join formulation ("next event of the same user")
    would shuffle the log twice and blow up on hot users; the window
    form is linear in the log."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("n_transitions"))
        .orderBy(F.col("n_transitions").desc(), "prev_type", "next_type")
    )


@query(
    "q123_hll_sketch_merge",
    oracle=None,  # Datasketches HLL has no DuckDB twin — rows-only.
    tags=("sketch", "agg"),
)
def q123_hll_sketch_merge(spark, sf_dir):
    """HLL sketch mergeability — the property that makes distinct-count
    roll-ups scale: per-nation hll_sketch_agg sketches, merged with
    hll_union_agg, must estimate the same cardinality as one global
    sketch (sketches are deterministic functions of the value set, so
    est_union == est_global exactly). At 100 TB the per-partition
    sketches are tiny mergeable state — a daily distinct-users rollup
    becomes a union of stored sketches instead of a full re-scan.
    Exact count_distinct rides along to show the estimate error."""
    c = table(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    merged = per_nation.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("bigint")
        .alias("est_union")
    )
    direct = c.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("c_custkey"))
        .cast("bigint")
        .alias("est_global"),
        F.count_distinct("c_custkey").cast("bigint").alias("n_exact"),
    )
    return merged.crossJoin(direct).select(
        "est_union", "est_global", "n_exact"
    )


@query(
    "q112_retention_cohorts",
    oracle="""
WITH weeks AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events GROUP BY ALL
), cohorts AS (
  SELECT user_id, MIN(wk) AS cohort_wk FROM weeks GROUP BY user_id
)
SELECT CAST(c.cohort_wk AS TIMESTAMP) AS cohort_week,
       CAST((epoch(w.wk) - epoch(c.cohort_wk)) / 604800 AS INT)
         AS offset_weeks,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_active
FROM weeks w JOIN cohorts c ON w.user_id = c.user_id
GROUP BY cohort_week, offset_weeks
ORDER BY cohort_week, offset_weeks
""",
    tags=("events", "agg"),
)
def q112_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by first-active week, counted in
    each later week. distinct (user, week) first — collapsing the raw
    log before any join — then the per-user cohort aggregate joins back
    on user_id (one shuffle reused by both aggregates, user-partitioned
    throughout). Week offsets are exact integer epoch arithmetic."""
    ev = table(spark, sf_dir, "events")
    weeks = (
        ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    )
    cohorts = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = weeks.join(cohorts, "user_id")
    offset = (
        (F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk")) / 604800
    ).cast("int")
    return (
        joined.groupBy(
            F.col("cohort_wk").alias("cohort_week"),
            offset.alias("offset_weeks"),
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
        .orderBy("cohort_week", "offset_weeks")
    )


@query(
    "q138_groupwise_regression",
    oracle="""
SELECT o_orderpriority,
       CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS n,
       round(regr_slope(o_totalprice, o_custkey), 6) AS slope,
       round(regr_intercept(o_totalprice, o_custkey), 2) AS intercept,
       round(regr_r2(o_totalprice, o_custkey), 6) AS r2
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("agg", "stats"),
)
def q138_groupwise_regression(spark, sf_dir):
    """Per-group closed-form OLS: slope / intercept / R² of total price
    on customer key, one regression per priority class. The regr_*
    family is a single-pass co-moment aggregate in both engines —
    distributed it is one map-side-combined hash aggregate (the same
    shape as SUM), never a per-group solver or a collect; rounding
    absorbs last-ulp accumulation-order differences. The reference has
    no aggregates at all (its only grouping is arrival-order batching,
    core.clj:129-135); this is the model-fit-per-segment shape a
    feature pipeline runs at full-corpus scale."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.regr_count("o_totalprice", "o_custkey")
            .cast("bigint")
            .alias("n"),
            F.round(F.regr_slope("o_totalprice", "o_custkey"), 6).alias(
                "slope"
            ),
            F.round(F.regr_intercept("o_totalprice", "o_custkey"), 2).alias(
                "intercept"
            ),
            F.round(F.regr_r2("o_totalprice", "o_custkey"), 6).alias("r2"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q139_share_of_total",
    oracle="""
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0, 0)
                  AS BIGINT)) AS rev_cents
  FROM lineitem
  GROUP BY l_suppkey
), tot AS (
  SELECT SUM(rev_cents) AS total_cents FROM per_supp
)
SELECT l_suppkey,
       CAST(rev_cents / 100.0 AS DOUBLE) AS revenue,
       round(CAST(rev_cents AS DOUBLE) / (1.0 * total_cents), 9) AS share
FROM per_supp, tot
ORDER BY rev_cents DESC, l_suppkey
LIMIT 100
""",
    tags=("agg", "scale-pattern"),
)
def q139_share_of_total(spark, sf_dir):
    """Percent-of-total per supplier, the scale-correct way: aggregate
    to supplier grain first, reduce THAT to a 1-row grand total, and
    broadcast the total back onto the per-supplier table. The tempting
    one-liner — ``SUM(...) OVER ()`` on the detail rows — funnels the
    whole fact table through a single window partition (one task at
    100 TB); here the detail table is touched once by a map-side-combined
    aggregate and the only join is against a broadcast single row.
    Fixed-point cents make the shares exact-integer divisions."""

    li = table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(money(rev)).alias("rev_cents")
    )
    tot = per_supp.agg(F.sum("rev_cents").alias("total_cents"))
    return (
        per_supp.join(F.broadcast(tot))
        .select(
            "l_suppkey",
            (F.col("rev_cents") / 100.0).alias("revenue"),
            F.round(F.col("rev_cents") / (1.0 * F.col("total_cents")), 9)
            .alias("share"),
            "rev_cents",
        )
        .orderBy(F.col("rev_cents").desc(), "l_suppkey")
        .limit(100)
        .drop("rev_cents")
    )


# Co-visitation bucket cap for q146: (event_type, day) buckets larger
# than this are dropped before pair expansion — see
# operators.dedup.cooccurrence_pairs. 4096 never bites at the tested SFs
# (max observed bucket: 67 at sf0.01, 587 at sf0.1) but bounds the pair
# stage at 100x, where a ubiquitous bucket would otherwise expand O(n²).
_COVIS_MAX_BUCKET = 4096


def covis_graph(spark, sf_dir):
    """The capped co-visitation graph shared by q146 and a494 (one
    code path, byte-for-byte the same build both oracles encode):
    users sharing an (event_type, day) bucket co-occur, hot buckets
    above _COVIS_MAX_BUCKET are dropped before the pair fan-out, and
    an edge exists at activity-set Jaccard ≥ 0.30 with UNCAPPED
    per-user denominators. Returns (sz, edges) — the per-user bucket
    counts and the checkpointed oriented (u < v) edge list, both
    reused by several downstream branches."""
    from ..operators.core import ensure_parallelism

    ev = ensure_parallelism(table(spark, sf_dir, "events"))
    # g feeds three branches (sz, the posting build, and its bucket-size
    # window); checkpoint the 80k-row distinct once so the scan+distinct
    # shuffle doesn't replan per branch.
    g = (
        ev.select(
            "user_id", "event_type", F.date_trunc("day", "ts").alias("d")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sz = g.groupBy("user_id").agg(F.count("*").alias("n"))
    co = cooccurrence_pairs(
        g, "user_id", ["event_type", "d"], max_bucket=_COVIS_MAX_BUCKET
    )
    # sz and edges are small (user- and edge-count sized) but referenced
    # repeatedly; without checkpoints the scan→distinct→pair pipeline
    # replans once per reference (34 duplicated scans, zero reuse)
    sz = sz.localCheckpoint(eager=False)
    edges = (
        co.join(
            sz.select(F.col("user_id").alias("u"), F.col("n").alias("na")),
            "u",
        )
        .join(
            sz.select(F.col("user_id").alias("v"), F.col("n").alias("nb")),
            "v",
        )
        .filter(
            F.col("i") * 100 >= 30 * (F.col("na") + F.col("nb") - F.col("i"))
        )
        .select("u", "v")
        .localCheckpoint(eager=False)
    )
    return sz, edges


@query(
    "q146_triangle_count",
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
  WHERE bs.bn <= {_COVIS_MAX_BUCKET}
), co AS (
  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS i
  FROM gk a JOIN gk b
    ON a.event_type = b.event_type AND a.d = b.d AND a.user_id < b.user_id
  GROUP BY 1, 2
), edges AS (
  SELECT u, v FROM co
  JOIN sz sa ON sa.user_id = co.u
  JOIN sz sb ON sb.user_id = co.v
  WHERE i * 100 >= 30 * (sa.n + sb.n - i)
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
), node_tri AS (
  SELECT node, COUNT(*) AS t FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
), deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY node
)
SELECT s.user_id,
       CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
       CAST(COALESCE(t.t, 0) AS BIGINT) AS n_triangles
FROM sz s
LEFT JOIN deg d ON d.node = s.user_id
LEFT JOIN node_tri t ON t.node = s.user_id
ORDER BY s.user_id
""",
    tags=("analytics", "graph"),
)
def q146_triangle_count(spark, sf_dir):
    """Per-node triangle counting over a co-visitation graph.

    Graph build is posting-list style: users sharing a (event_type, day)
    activity bucket co-occur; an edge exists when the Jaccard of the two
    users' activity-bucket sets >= 0.30 (integer cross-multiplication,
    no float threshold). Pair generation goes through
    ``operators.cooccurrence_pairs`` with ``max_bucket`` =
    ``_COVIS_MAX_BUCKET``: a hot bucket (every user active on one
    (event_type, day) — guaranteed at 100x on a skewed event mix) is
    dropped before the self-join, so the candidate stage is bounded by
    ``max_bucket² × n_buckets`` instead of O(users²); the oracle encodes
    the identical cap. Jaccard denominators still use the uncapped
    per-user bucket counts (same convention as shingle max_df).
    Triangles are the canonical two-path + closing
    -edge plan on the oriented (u < v) edge list: join edges on the
    middle vertex, then semi-close with a third equi-join — each stage
    is an equi-join shuffle bounded by edge count, the standard
    distributed triangle enumeration (orientation kills the 6x duplicate
    factor). Zero-triangle users stay in the output via left joins, so
    the result is non-empty at every SF."""
    sz, edges = covis_graph(spark, sf_dir)
    # Per-edge adjacency-intersection triangles (the a361 rewrite —
    # ABBA A/B vs the two-path + closing-edge join: 4.74 s vs 5.73 s
    # min at sf0.1, identical output): a triangle a<b<c is found
    # exactly once, at its lowest edge (a,b), as c ∈ N+(a)∩N+(b); the
    # corner counts come from one explode of (u, v, intersection)
    # instead of shuffling the 1.2M two-path candidate rows into the
    # closing join. No broadcast hint on the user-keyed adjacency (AQE
    # decides).
    adj = edges.groupBy("u").agg(F.collect_list("v").alias("nu"))
    inter = (
        edges.join(adj, "u")
        .join(
            adj.select(F.col("u").alias("v"), F.col("nu").alias("nv")),
            "v",
            "left",
        )
        .select(
            "u",
            "v",
            # slice(nu,1,0) = typed empty array for max-id endpoints
            F.array_intersect(
                "nu", F.coalesce("nv", F.slice("nu", 1, 0))
            ).alias("cw"),
        )
    )
    _tsz = F.size("cw").cast("bigint")
    _zero = F.lit(0).cast("bigint")
    _one = F.lit(1).cast("bigint")
    # Triangle corners AND edge endpoints ride ONE exploded stream into
    # ONE groupBy(node) with two summed measures (the a579 union-pivot
    # lesson): inter preserves every oriented edge exactly once (its u
    # always has an adjacency row; v joins left), so summing the dg
    # flags reproduces the former endpoint-union degree count while
    # saving the separate deg/node_tri exchanges and one left join
    # (sf0.1 ABBA min 3.52 → 3.01 s, sf1 flat).
    stream = inter.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        _one.alias("dg"),
                        _tsz.alias("t"),
                    ),
                    F.struct(
                        F.col("v").alias("node"),
                        _one.alias("dg"),
                        _tsz.alias("t"),
                    ),
                ),
                F.transform(
                    "cw",
                    lambda w: F.struct(
                        w.alias("node"),
                        _zero.alias("dg"),
                        _one.alias("t"),
                    ),
                ),
            )
        ).alias("e")
    )
    combined = stream.groupBy(F.col("e.node").alias("node")).agg(
        F.sum("e.dg").alias("degree"), F.sum("e.t").alias("t")
    )
    return (
        sz.join(combined, sz.user_id == combined.node, "left")
        .select(
            "user_id",
            F.coalesce("degree", F.lit(0)).cast("bigint").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
        )
        .orderBy("user_id")
    )


@query(
    "q158_robust_scaler",
    oracle="""
WITH ex AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) - 1 AS pos,
         unnest(embedding::DOUBLE[]) AS x
  FROM embeddings
), med AS (
  SELECT pos, quantile_cont(x, 0.5) AS m FROM ex GROUP BY pos
), mad AS (
  SELECT ex.pos, quantile_cont(abs(ex.x - med.m), 0.5) AS s
  FROM ex JOIN med USING (pos) GROUP BY ex.pos
)
SELECT ex.vec_id, CAST(ex.pos AS INT) AS pos,
       round((ex.x - med.m) / NULLIF(mad.s, 0.0), 4) AS z_r
FROM ex
JOIN med USING (pos)
JOIN mad USING (pos)
WHERE ex.vec_id < 10
ORDER BY ex.vec_id, pos
""",
    tags=("analytics", "similarity"),
)
def q158_robust_scaler(spark, sf_dir):
    """Per-dimension robust standardization of the embedding matrix —
    (x - median_d) / MAD_d per dimension d, the outlier-immune scaler
    ML preprocessing prefers over mean/std when a few vectors are
    corrupted. Two grouped exact-percentile passes keyed on the
    dimension index (64 groups — the stats relation is tiny and
    broadcast back onto the exploded matrix), mirroring q148's
    median->deviation->median chain but over posexplode'd array
    columns. Output is the exploded z-matrix for the first 10 vectors,
    rounded to 1e-4; exact interpolated percentiles keep both engines
    bit-comparable."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ex = e.select("vec_id", F.posexplode("v").alias("pos", "x"))
    med = ex.groupBy("pos").agg(F.percentile("x", F.lit(0.5)).alias("m"))
    dev = ex.join(F.broadcast(med), "pos")
    mad = dev.groupBy("pos").agg(
        F.percentile(F.abs(F.col("x") - F.col("m")), F.lit(0.5)).alias("s")
    )
    return (
        ex.filter(F.col("vec_id") < 10)
        .join(F.broadcast(med), "pos")
        .join(F.broadcast(mad), "pos")
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            F.round(
                (F.col("x") - F.col("m")) / F.nullif(F.col("s"), F.lit(0.0)), 4
            ).alias("z_r"),
        )
        .orderBy("vec_id", "pos")
    )


@query(
    "q160_weighted_median",
    oracle="""
WITH rows_ AS (
  SELECT l_returnflag AS flag,
         CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT) AS price_cents,
         CAST(ROUND(l_quantity) AS BIGINT) AS w
  FROM lineitem
), g AS (
  SELECT flag, price_cents, SUM(w) AS w
  FROM rows_ GROUP BY flag, price_cents
), cum AS (
  SELECT flag, price_cents, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY price_cents
                      ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY flag) AS tw
  FROM g
)
SELECT flag,
       CAST(MIN(price_cents) AS BIGINT) AS wmedian_cents,
       CAST(MAX(tw) AS BIGINT) AS total_weight
FROM cum
WHERE cw * 2 >= tw
GROUP BY flag
ORDER BY flag
""",
    tags=("analytics", "agg"),
)
def q160_weighted_median(spark, sf_dir):
    """Quantity-weighted median price per return flag — the weighted
    quantile that answers 'at what price does half the VOLUME sit?'
    (resource-accounting shape: bytes-weighted latency, token-weighted
    loss). No engine has a weighted-percentile builtin, so it is built
    from primitives, all BIGINT: collapse to per-(group, value) weight
    sums first (one map-side-combined shuffle — the cumsum then rides
    the collapsed distribution, not the raw rows), cumulative weight
    per group in value order, and the answer is the smallest value
    whose cumulative weight reaches half the group total. Both window
    passes share the group-key exchange."""
    li = table(spark, sf_dir, "lineitem")
    rows_ = li.select(
        F.col("l_returnflag").alias("flag"),
        money("l_extendedprice").alias("price_cents"),
        F.round("l_quantity", 0).cast("bigint").alias("w"),
    )
    g = rows_.groupBy("flag", "price_cents").agg(F.sum("w").alias("w"))
    w_cum = Window.partitionBy("flag").orderBy("price_cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("flag")
    cum = g.select(
        "flag",
        "price_cents",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("flag")
        .agg(
            F.min("price_cents").cast("bigint").alias("wmedian_cents"),
            F.max("tw").cast("bigint").alias("total_weight"),
        )
        .orderBy("flag")
    )


@query(
    "q171_decile_lift",
    oracle="""
WITH scored AS (
  SELECT o_orderkey, o_totalprice,
         CAST(o_orderpriority LIKE '1-URGENT%' OR
              o_orderpriority LIKE '2-HIGH%' AS INT) AS is_hot,
         ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
  FROM orders
), per AS (
  SELECT decile,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(is_hot) AS BIGINT) AS hot
  FROM scored GROUP BY decile
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(hot) AS BIGINT) AS th
  FROM per
)
SELECT decile, n, hot,
       round(CAST(hot AS DOUBLE) / n, 4) AS rate_r,
       round((CAST(hot AS DOUBLE) / n) / (CAST(th AS DOUBLE) / tn), 4)
         AS lift_r
FROM per, tot
ORDER BY decile
""",
    tags=("analytics", "window"),
)
def q171_decile_lift(spark, sf_dir):
    """Decile lift table — the model-evaluation staple: bucket orders
    into spend deciles (ntile over a deterministic (price, key) order)
    and compare each decile's hot-priority rate to the base rate. If
    spend 'scores' predicted urgency, top deciles show lift > 1. The
    global ntile is the one legitimately-ordered step (rank over the
    full relation); everything after rides the 10-row summary with the
    base rate from a second tiny aggregate — both engines compute the
    same exact integer counts, so rate and lift round identically. The
    two-phase prefix-sum rewrite (q147) applies verbatim if the scored
    relation is corpus-sized."""
    orders = table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    scored = orders.select(
        "o_orderkey",
        (
            F.col("o_orderpriority").startswith("1-URGENT")
            | F.col("o_orderpriority").startswith("2-HIGH")
        )
        .cast("int")
        .alias("is_hot"),
        F.ntile(10).over(w).alias("decile"),
    )
    per = scored.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("is_hot").cast("bigint").alias("hot"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("hot").cast("bigint").alias("th"),
    )
    rate = F.col("hot").cast("double") / F.col("n")
    base = F.col("th").cast("double") / F.col("tn")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n",
            "hot",
            F.round(rate, 4).alias("rate_r"),
            F.round(rate / base, 4).alias("lift_r"),
        )
        .orderBy("decile")
    )


@query(
    "q176_revenue_proration",
    oracle="""
WITH li AS (
  SELECT l_orderkey,
         CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT) AS w,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_extendedprice,
                                     l_partkey, l_suppkey) AS rn
  FROM lineitem WHERE l_orderkey < 2000
), o AS (
  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS t
  FROM orders WHERE o_orderkey < 2000
), j AS (
  SELECT li.l_orderkey, li.rn, li.w, o.t,
         SUM(li.w) OVER (PARTITION BY li.l_orderkey) AS tw
  FROM li JOIN o ON o.o_orderkey = li.l_orderkey
), alloc AS (
  SELECT l_orderkey, rn, w, t, tw,
         (t * w) // tw AS base,
         (t * w) % tw AS md
  FROM j
), ranked AS (
  SELECT l_orderkey, rn, w, base,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY md DESC, rn) AS fr,
         t - SUM(base) OVER (PARTITION BY l_orderkey) AS rem
  FROM alloc
)
SELECT l_orderkey,
       CAST(rn AS BIGINT) AS line_rn,
       CAST(w AS BIGINT) AS weight_cents,
       CAST(base + CASE WHEN fr <= rem THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_cents
FROM ranked
ORDER BY l_orderkey, line_rn
""",
    tags=("analytics", "window"),
)
def q176_revenue_proration(spark, sf_dir):
    """Largest-remainder proration: each order's total (integer cents)
    is allocated across its lineitems proportionally to item price,
    with the rounding remainder distributed one cent at a time to the
    largest fractional parts — so per-order allocations sum EXACTLY to
    the order total, the invariant every billing/royalty/cost-center
    split must hold. All arithmetic is BIGINT (products bounded well
    under 2^63), so both engines agree bit-for-bit with no float in
    sight. Every window partitions on l_orderkey — one shuffle reused
    across the weight-sum, remainder-rank, and base-sum frames; line
    identity is a ROW_NUMBER over a deterministic column tuple because
    the fixture's (l_orderkey, l_linenumber) is not unique."""
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey",
            money("l_extendedprice").alias("w"),
            F.row_number()
            .over(
                Window.partitionBy("l_orderkey").orderBy(
                    "l_linenumber", "l_extendedprice", "l_partkey", "l_suppkey"
                )
            )
            .alias("rn"),
        )
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            money("o_totalprice").alias("t"),
        )
    )
    wo = Window.partitionBy("l_orderkey")
    j = li.join(o, "l_orderkey").withColumn("tw", F.sum("w").over(wo))
    alloc = j.select(
        "l_orderkey",
        "rn",
        "w",
        "t",
        F.expr("(t * w) div tw").alias("base"),
        ((F.col("t") * F.col("w")) % F.col("tw")).alias("md"),
    )
    ranked = alloc.select(
        "l_orderkey",
        "rn",
        "w",
        "base",
        F.row_number()
        .over(wo.orderBy(F.col("md").desc(), "rn"))
        .alias("fr"),
        (F.col("t") - F.sum("base").over(wo)).alias("rem"),
    )
    return ranked.select(
        "l_orderkey",
        F.col("rn").cast("bigint").alias("line_rn"),
        F.col("w").cast("bigint").alias("weight_cents"),
        (F.col("base") + F.when(F.col("fr") <= F.col("rem"), 1).otherwise(0))
        .cast("bigint")
        .alias("alloc_cents"),
    ).orderBy("l_orderkey", "line_rn")


@query(
    "q182_join_skew_profile",
    oracle="""
WITH per_key AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem
  GROUP BY l_orderkey
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(MAX(c) AS BIGINT) AS mx
  FROM per_key
)
SELECT p.l_orderkey,
       p.c AS n_rows,
       round(p.c * 1.0 / t.t, 9) AS share,
       round(p.c * t.nk * 1.0 / t.t, 6) AS skew_factor
FROM per_key p CROSS JOIN tot t
ORDER BY p.c DESC, p.l_orderkey
LIMIT 25
""",
    tags=("analytics", "scale-pattern"),
)
def q182_join_skew_profile(spark, sf_dir):
    """Join-key skew diagnostics — the profiling pass you run BEFORE
    choosing a salted join: per-key row counts for the prospective join
    key, each heavy hitter's share of the table, and its skew factor
    (count / mean count — 1.0 means perfectly uniform). One map-side-
    combined groupBy on the key plus a broadcast 1-row total; top-25
    heaviest keys out. At 100 TB this is the cheap scan that decides
    whether q58's salting or AQE skew-join handling is needed, and
    which keys to salt."""
    li = table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = per_key.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("nk"),
        F.max("c").cast("bigint").alias("mx"),
    )
    return (
        per_key.join(F.broadcast(tot))
        .select(
            "l_orderkey",
            F.col("c").alias("n_rows"),
            F.round(F.col("c") / F.col("t"), 9).alias("share"),
            F.round(F.col("c") * F.col("nk") / F.col("t"), 6).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "l_orderkey")
        .limit(25)
    )


@query(
    "q213_basket_lift",
    oracle="""
WITH basket AS (
  SELECT DISTINCT l_orderkey, l_partkey % 50 AS item FROM lineitem
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem
), freq AS (
  SELECT item, COUNT(*) AS f FROM basket GROUP BY item
), pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS supp
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, CAST(p.supp AS BIGINT) AS support,
       round(CAST(p.supp AS DOUBLE) * (SELECT n_orders FROM n)
             / fa.f / fb.f, 4) AS lift_r
FROM pairs p
JOIN freq fa ON fa.item = p.item_a
JOIN freq fb ON fb.item = p.item_b
WHERE p.supp >= 3
ORDER BY lift_r DESC, item_a, item_b
LIMIT 50
""",
    tags=("analytics", "similarity"),
)
def q213_basket_lift(spark, sf_dir):
    """Market-basket co-occurrence lift: item pairs that appear in the
    same order more often than independence predicts
    (lift = P(a,b) / P(a)P(b)). Pair generation is the posting-list
    self-join ON THE ORDER KEY — candidates are bounded by
    (basket size)² per order, never item-catalog², which is the
    association-mining scale shape; item marginals are an item-count
    sized aggregate broadcast into the lift join. A support floor
    prunes noise pairs before ranking. Items are bucketed part keys so
    baskets overlap at fixture scale; real catalogs plug in the raw
    key."""
    li = table(spark, sf_dir, "lineitem")
    basket = (
        li.select("l_orderkey", (F.col("l_partkey") % 50).alias("item"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds both join sides + marginals
    )
    n_orders = li.select("l_orderkey").distinct().count()
    freq = basket.groupBy("item").agg(F.count("*").alias("f"))
    a = basket.select(F.col("l_orderkey").alias("k"), F.col("item").alias("item_a"))
    b = basket.select(F.col("l_orderkey").alias("k"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("supp"))
        .filter(F.col("supp") >= 3)
    )
    fa = freq.select(F.col("item").alias("item_a"), F.col("f").alias("fa"))
    fb = freq.select(F.col("item").alias("item_b"), F.col("f").alias("fb"))
    return (
        pairs.join(F.broadcast(fa), "item_a")
        .join(F.broadcast(fb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("supp").cast("bigint").alias("support"),
            F.round(
                F.col("supp").cast("double")
                * F.lit(n_orders)
                / F.col("fa")
                / F.col("fb"),
                4,
            ).alias("lift_r"),
        )
        .orderBy(F.col("lift_r").desc(), "item_a", "item_b")
        .limit(50)
    )


@query(
    "q214_percent_of_parent",
    oracle="""
WITH base AS (
  SELECT r_name, n_name,
         CAST(SUM(CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS bal_cents
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, bal_cents,
       round(CAST(bal_cents AS DOUBLE)
             / SUM(bal_cents) OVER (PARTITION BY r_name), 6) AS pct_of_region,
       round(CAST(bal_cents AS DOUBLE)
             / SUM(bal_cents) OVER (), 6) AS pct_of_total
FROM base
ORDER BY r_name, n_name
""",
    tags=("analytics", "window"),
)
def q214_percent_of_parent(spark, sf_dir):
    """Percent-of-parent hierarchical shares: each nation's balance as
    a share of its region and of the grand total — the drill-down
    normalization every BI rollup needs. Shares are windows over the
    AGGREGATE (nation-count sized), so the corpus is touched exactly
    once by the base groupBy; the empty-frame total window is a
    single-partition pass over ~25 rows, not over the fact table.
    Numerators/denominators are exact integer cents; only the two
    terminal divisions are floating."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    r = F.broadcast(table(spark, sf_dir, "region"))
    base = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(money("c_acctbal")).cast("bigint").alias("bal_cents"))
    )
    wr = Window.partitionBy("r_name")
    wt = Window.partitionBy()
    return base.select(
        "r_name",
        "n_name",
        "bal_cents",
        F.round(
            F.col("bal_cents").cast("double") / F.sum("bal_cents").over(wr), 6
        ).alias("pct_of_region"),
        F.round(
            F.col("bal_cents").cast("double") / F.sum("bal_cents").over(wt), 6
        ).alias("pct_of_total"),
    ).orderBy("r_name", "n_name")


@query(
    "q217_pareto_skyline",
    oracle="""
WITH pts AS (
  SELECT p_partkey, p_size,
         CAST(ROUND(p_retailprice * 100.0, 0) AS BIGINT) AS price_cents
  FROM part
), ranked AS (
  SELECT p_partkey, p_size, price_cents,
         MIN(price_cents) OVER (
           ORDER BY p_size DESC, price_cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_price
  FROM pts
)
SELECT p_partkey, CAST(p_size AS INT) AS p_size, price_cents
FROM ranked
WHERE best_price IS NULL OR price_cents < best_price
ORDER BY p_size DESC, price_cents, p_partkey
""",
    tags=("analytics",),
)
def q217_pareto_skyline(spark, sf_dir):
    """2-D Pareto skyline (maximize size, minimize price): the parts no
    other part dominates on both dimensions. The classic sort-scan
    algorithm expressed relationally — sort by size DESC then price,
    and a point is on the frontier iff its price beats the running MIN
    over everything sorted before it (anything earlier has >= size, so
    a lower-or-equal earlier price dominates). One sort instead of the
    O(n²) NOT EXISTS dominance join; at scale the single ordered window
    becomes a range-partitioned sort, and a pre-aggregation to distinct
    (size, min price) — dimension-bounded — would front the same scan.
    Ties: equal-size equal-price duplicates all survive (none strictly
    dominates), matching the oracle's strict inequality."""
    from pyspark.sql import Window

    p = table(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        "p_size",
        money("p_retailprice").alias("price_cents"),
    )
    w = (
        Window.orderBy(F.col("p_size").desc(), "price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = pts.withColumn("best_price", F.min("price_cents").over(w))
    return (
        ranked.filter(
            F.col("best_price").isNull()
            | (F.col("price_cents") < F.col("best_price"))
        )
        .select("p_partkey", F.col("p_size").cast("int").alias("p_size"), "price_cents")
        .orderBy(F.col("p_size").desc(), "price_cents", "p_partkey")
    )


@query(
    "q218_benford_digit_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), obs AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
), tot AS (SELECT SUM(n) AS t FROM obs)
SELECT digit, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / (SELECT t FROM tot), 6) AS observed_p,
       round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_p,
       round(abs(CAST(n AS DOUBLE) / (SELECT t FROM tot)
                 - ln(1.0 + 1.0 / digit) / ln(10.0)), 6) AS abs_dev
FROM obs
ORDER BY digit
""",
    tags=("analytics", "monitoring"),
)
def q218_benford_digit_audit(spark, sf_dir):
    """Benford's-law first-digit audit — the forensic screen for
    fabricated or truncated numeric columns: leading-digit frequencies
    of order values against log10(1 + 1/d). One map-side-combined
    digit aggregate (9 groups) plus a broadcast total; deviations per
    digit flag the digits to investigate. Digit extraction is string
    head of the integer cents, identical in both engines; expected
    probabilities are closed-form on literals."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        money("o_totalprice").cast("string"),
        1,
        1,
    ).cast("bigint")
    obs = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    tot = obs.agg(F.sum("n").alias("t"))
    benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias("observed_p"),
            F.round(benford, 6).alias("benford_p"),
            F.round(
                F.abs(F.col("n").cast("double") / F.col("t") - benford), 6
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@query(
    "q220_rfm_segmentation",
    oracle="""
WITH rfm AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_score,
         ntile(4) OVER (ORDER BY frequency, o_custkey) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
  FROM rfm
)
SELECT CASE
         WHEN r_score = 4 AND f_score >= 3 AND m_score >= 3 THEN 'champion'
         WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
         WHEN r_score <= 2 AND m_score >= 3 THEN 'at_risk_big'
         WHEN r_score <= 2 THEN 'hibernating'
         ELSE 'regular'
       END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS monetary_cents
FROM scored
GROUP BY 1
ORDER BY segment
""",
    tags=("analytics",),
)
def q220_rfm_segmentation(spark, sf_dir):
    """RFM customer segmentation: recency/frequency/monetary quartile
    scores (deterministic ntile with the customer key as tie-break)
    mapped through the classic segment rules. The per-customer RFM
    table aggregates with one key shuffle; the three ntile windows run
    over the CUSTOMER-count table, not the order fact — at 100 TB a
    pre-computed quantile-boundary broadcast (q61's exact percentiles)
    replaces the full-order global windows, same scores."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    r = F.ntile(4).over(Window.orderBy("last_order", "o_custkey"))
    f = F.ntile(4).over(Window.orderBy("frequency", "o_custkey"))
    m = F.ntile(4).over(Window.orderBy("monetary_cents", "o_custkey"))
    scored = rfm.select(
        "o_custkey",
        "frequency",
        "monetary_cents",
        r.alias("r_score"),
        f.alias("f_score"),
        m.alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") == 4)
            & (F.col("f_score") >= 3)
            & (F.col("m_score") >= 3),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("m_score") >= 3), "at_risk_big")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("regular")
    )
    return (
        scored.groupBy(seg.alias("segment"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("monetary_cents").cast("bigint").alias("monetary_cents"),
        )
        .orderBy("segment")
    )


@query(
    "q221_cohort_ltv_curve",
    oracle="""
WITH first_order AS (
  SELECT o_custkey, MIN(CAST(date_trunc('month', o_orderdate) AS DATE))
           AS cohort
  FROM orders GROUP BY o_custkey
), rev AS (
  SELECT f.cohort,
         (CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) * 12
          + CAST(strftime(o.o_orderdate, '%m') AS BIGINT))
         - (CAST(strftime(f.cohort, '%Y') AS BIGINT) * 12
            + CAST(strftime(f.cohort, '%m') AS BIGINT)) AS month_idx,
         CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT) AS cents
  FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
), m AS (
  SELECT cohort, month_idx, SUM(cents) AS rev_cents
  FROM rev GROUP BY cohort, month_idx
)
SELECT cohort, CAST(month_idx AS INT) AS month_idx,
       CAST(rev_cents AS BIGINT) AS rev_cents,
       CAST(SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY month_idx
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents
FROM m
WHERE month_idx <= 11
ORDER BY cohort, month_idx
""",
    tags=("analytics",),
)
def q221_cohort_ltv_curve(spark, sf_dir):
    """Cohort LTV curves: customers cohorted by first-order month;
    revenue bucketed by months-since-acquisition and accumulated into
    the running lifetime value per cohort (the first-year curve).
    Acquisition month comes from one customer-key aggregate joined
    back onto orders (both shuffles share the customer key); the
    cumulative window runs over the cohort x month matrix — a few
    hundred rows at any corpus scale. Month arithmetic is integer
    year*12+month, identical in both engines."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate").cast("date")).alias("cohort")
    )
    mi = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    rev = o.join(first, "o_custkey").select(
        "cohort",
        (mi(F.col("o_orderdate")) - mi(F.col("cohort"))).alias("month_idx"),
        money("o_totalprice").alias("cents"),
    )
    m = rev.groupBy("cohort", "month_idx").agg(F.sum("cents").alias("rev_cents"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        m.filter(F.col("month_idx") <= 11)
        .select(
            "cohort",
            F.col("month_idx").cast("int").alias("month_idx"),
            F.col("rev_cents").cast("bigint").alias("rev_cents"),
            F.sum("rev_cents").over(w).cast("bigint").alias("cum_rev_cents"),
        )
        .orderBy("cohort", "month_idx")
    )


@query(
    "q225_period_over_period",
    oracle="""
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT week, rev_cents, n_orders,
       lag(rev_cents) OVER (ORDER BY week) AS prev_rev_cents,
       round((rev_cents - lag(rev_cents) OVER (ORDER BY week)) * 1.0
             / lag(rev_cents) OVER (ORDER BY week), 6) AS wow_growth_r,
       round(rev_cents * 1.0
             / avg(rev_cents) OVER (ORDER BY week
                                    ROWS BETWEEN 3 PRECEDING
                                    AND 1 PRECEDING), 6) AS vs_trailing3_r
FROM weekly
ORDER BY week
""",
    tags=("analytics", "window"),
)
def q225_period_over_period(spark, sf_dir):
    """Period-over-period metrics: week-over-week growth and revenue
    vs the trailing-3-week average — the standard KPI readout. The lag
    and trailing-average frames run over the WEEK-count table (the
    orders fact collapses in one map-side-combining aggregate first),
    so the ordered windows touch hundreds of rows at any corpus scale.
    Growth ratios divide exact integer cents; prev-less and
    trailing-less rows yield NULL in both engines."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    ).agg(
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("rev_cents"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = Window.orderBy("week")
    wt = Window.orderBy("week").rowsBetween(-3, -1)
    prev = F.lag("rev_cents").over(w)
    return weekly.select(
        "week",
        "rev_cents",
        "n_orders",
        prev.alias("prev_rev_cents"),
        F.round((F.col("rev_cents") - prev) * 1.0 / prev, 6).alias(
            "wow_growth_r"
        ),
        F.round(
            F.col("rev_cents") * 1.0 / F.avg("rev_cents").over(wt), 6
        ).alias("vs_trailing3_r"),
    ).orderBy("week")


_FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("lineitem", "l_partkey", "l_suppkey"),
)


@query(
    "q242_fd_audit",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{t}.{a} -> {b}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_determinants,
       CAST(SUM(nb) - COUNT(*) AS BIGINT) AS n_extra_pairs,
       CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       CAST(MAX(nb) AS BIGINT) AS max_fanout
FROM (SELECT {a}, COUNT(DISTINCT {b}) AS nb FROM {t} GROUP BY {a})"""
        for t, a, b in _FD_CANDIDATES
    )
    + "\nORDER BY fd",
    tags=("analytics", "profile"),
)
def q242_fd_audit(spark, sf_dir):
    """Functional-dependency audit (profiling-for-keys): for each
    candidate FD A -> B, how many determinant values exist, how many
    extra (A, B) pairs beyond one-per-determinant, how many A values
    violate the dependency, and the worst fanout. This is the
    dependency-discovery primitive behind key inference, normalization
    checks, and join-safety audits ("can I use A as a lookup key for
    B?"). Each FD is one groupBy(A) with an exact count_distinct(B) —
    map-side-combined, one shuffle per FD on different keys — and the
    per-FD summaries (5 rows total) union at the end; no corpus-sized
    intermediate survives the aggregate. o_orderkey -> o_orderstatus
    audits a true key (violations = 0 certifies it), the others
    measure real violation mass."""
    parts = []
    for t, a, b in _FD_CANDIDATES:
        per_det = (
            table(spark, sf_dir, t)
            .groupBy(a)
            .agg(F.count_distinct(F.col(b)).alias("nb"))
        )
        parts.append(
            per_det.agg(
                F.lit(f"{t}.{a} -> {b}").alias("fd"),
                F.count("*").cast("bigint").alias("n_determinants"),
                (F.sum("nb") - F.count("*"))
                .cast("bigint")
                .alias("n_extra_pairs"),
                F.sum((F.col("nb") > 1).cast("int"))
                .cast("bigint")
                .alias("n_violating_keys"),
                F.max("nb").cast("bigint").alias("max_fanout"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("fd")


@query(
    "q258_multiple_regression",
    oracle="""
WITH feat AS (
  SELECT o.o_orderpriority AS grp,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS x1,
         CAST(SUM(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS x2
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, grp, y
), m AS (
  SELECT grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x1) AS BIGINT) AS sx1,
         CAST(SUM(x2) AS BIGINT) AS sx2,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x1 * x1) AS BIGINT) AS sx1x1,
         CAST(SUM(x2 * x2) AS BIGINT) AS sx2x2,
         CAST(SUM(x1 * x2) AS BIGINT) AS sx1x2,
         CAST(SUM(x1 * y) AS BIGINT) AS sx1y,
         CAST(SUM(x2 * y) AS BIGINT) AS sx2y,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM feat GROUP BY grp
), c AS (
  SELECT grp, n, sx1, sx2, sy,
         CAST(n AS DOUBLE) * sx1x1 - CAST(sx1 AS DOUBLE) * sx1 AS c11,
         CAST(n AS DOUBLE) * sx2x2 - CAST(sx2 AS DOUBLE) * sx2 AS c22,
         CAST(n AS DOUBLE) * sx1x2 - CAST(sx1 AS DOUBLE) * sx2 AS c12,
         CAST(n AS DOUBLE) * sx1y - CAST(sx1 AS DOUBLE) * sy AS c1y,
         CAST(n AS DOUBLE) * sx2y - CAST(sx2 AS DOUBLE) * sy AS c2y,
         CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy AS cyy
  FROM m
)
SELECT grp, n,
       round((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12), 6) AS b1_r,
       round((c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12), 6) AS b2_r,
       round((sy - (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * sx1
                 - (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * sx2)
             / n, 6) AS intercept_r,
       round(((c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) * c1y
              + (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) * c2y)
             / cyy, 6) AS r2_r
FROM c ORDER BY grp
""",
    tags=("analytics", "regression"),
)
def q258_multiple_regression(spark, sf_dir):
    """Per-group multiple linear regression (two features + intercept)
    in closed form: order totals regressed on line count and total
    quantity, one model per order priority — q138's single-feature OLS
    extended to the 2x2 normal-equations inverse. All nine raw moments
    are exact BIGINT sums (two map-side-combined aggregations: per
    order, then per group); the centered covariances, determinant,
    coefficients, intercept, and R² are closed-form double expressions
    over those integers, so both engines evaluate identical arithmetic
    — no iterative solver, no float accumulation, no driver round
    trips. The shape scales as: a fact-table shuffle per feature
    extraction plus a groups-sized summary; adding features grows the
    moment list quadratically but never adds a pass."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    feat = (
        o.select(
            "o_orderkey",
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice"), 0).cast("bigint").alias("y"),
        )
        .join(
            li.select(
                "l_orderkey",
                F.round(F.col("l_quantity"), 0).cast("bigint").alias("q"),
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderkey", "grp", "y")
        .agg(
            F.count("*").cast("bigint").alias("x1"),
            F.sum("q").cast("bigint").alias("x2"),
        )
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    m = feat.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x1).cast("bigint").alias("sx1"),
        F.sum(x2).cast("bigint").alias("sx2"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x1 * x1).cast("bigint").alias("sx1x1"),
        F.sum(x2 * x2).cast("bigint").alias("sx2x2"),
        F.sum(x1 * x2).cast("bigint").alias("sx1x2"),
        F.sum(x1 * y).cast("bigint").alias("sx1y"),
        F.sum(x2 * y).cast("bigint").alias("sx2y"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    n = F.col("n").cast("double")
    c11 = n * F.col("sx1x1") - F.col("sx1").cast("double") * F.col("sx1")
    c22 = n * F.col("sx2x2") - F.col("sx2").cast("double") * F.col("sx2")
    c12 = n * F.col("sx1x2") - F.col("sx1").cast("double") * F.col("sx2")
    c1y = n * F.col("sx1y") - F.col("sx1").cast("double") * F.col("sy")
    c2y = n * F.col("sx2y") - F.col("sx2").cast("double") * F.col("sy")
    cyy = n * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    det = c11 * c22 - c12 * c12
    b1 = (c22 * c1y - c12 * c2y) / det
    b2 = (c11 * c2y - c12 * c1y) / det
    return m.select(
        "grp",
        "n",
        F.round(b1, 6).alias("b1_r"),
        F.round(b2, 6).alias("b2_r"),
        F.round(
            (F.col("sy") - b1 * F.col("sx1") - b2 * F.col("sx2")) / F.col("n"),
            6,
        ).alias("intercept_r"),
        F.round((b1 * c1y + b2 * c2y) / cyy, 6).alias("r2_r"),
    ).orderBy("grp")


@query(
    "q264_ranking_overlap",
    oracle="""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT))
              AS BIGINT) AS qty_cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey,
         row_number() OVER (ORDER BY rev_cents DESC, l_partkey) AS ra,
         row_number() OVER (ORDER BY qty_cents DESC, l_partkey) AS rb
  FROM per_part
), ks AS (
  SELECT * FROM (VALUES (10), (25), (50), (100)) t(k)
)
SELECT CAST(ks.k AS INT) AS k,
       CAST(SUM(CASE WHEN ra <= ks.k AND rb <= ks.k THEN 1 ELSE 0 END)
            AS BIGINT) AS n_overlap,
       round(CAST(SUM(CASE WHEN ra <= ks.k AND rb <= ks.k
                      THEN 1 ELSE 0 END) AS DOUBLE) / ks.k, 6)
         AS overlap_at_k
FROM ranked CROSS JOIN ks
GROUP BY ks.k ORDER BY k
""",
    tags=("analytics", "eval", "ranking"),
)
def q264_ranking_overlap(spark, sf_dir):
    """Ranking-agreement audit (overlap@k, the recsys/model-eval
    staple): how much do two rankings of the same items — parts by
    revenue vs parts by unit volume — agree at the top? Both metrics
    come from ONE grouped pass over the fact table (exact cents), both
    rank columns from windows over the item summary with deterministic
    (metric DESC, key) tie order, and every k-cutoff is evaluated from
    the same ranked table via a broadcast k-list — no per-k re-sort,
    no top-k materialization. Reading: overlap_at_k near 1 means the
    cheap ranking is a safe proxy for the expensive one at that depth
    — the question behind every offline-metric swap. Item-cardinality
    windows only; the corpus is touched once."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice"))
        .cast("bigint")
        .alias("rev_cents"),
        F.sum(money("l_quantity"))
        .cast("bigint")
        .alias("qty_cents"),
    )
    wa = Window.orderBy(F.col("rev_cents").desc(), "l_partkey")
    wb = Window.orderBy(F.col("qty_cents").desc(), "l_partkey")
    ranked = per_part.select(
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    ks = literal_frame(spark, [(10,), (25,), (50,), (100,)], "k int")
    hit = (
        (F.col("ra") <= F.col("k")) & (F.col("rb") <= F.col("k"))
    ).cast("int")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(hit).cast("bigint").alias("n_overlap"),
            F.round(F.sum(hit).cast("double") / F.col("k").cast("double"), 6)
            .alias("overlap_at_k"),
        )
        .orderBy("k")
    )


@query(
    "q269_median_confidence_interval",
    oracle="""
WITH pts AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(ROUND(o_totalprice * 100.0, 0)
                                          AS BIGINT)) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM orders
), ranks AS (
  SELECT grp, cents, rn, n,
         CAST((n + 1) // 2 AS BIGINT) AS med_rank,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(floor((CAST(n AS DOUBLE)
                              - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0)
                       AS BIGINT)) AS lo_rank,
         LEAST(n,
               CAST(ceil(1.0 + (CAST(n AS DOUBLE)
                                + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0)
                    AS BIGINT)) AS hi_rank
  FROM pts
)
SELECT grp, CAST(MIN(n) AS BIGINT) AS n,
       CAST(MAX(CASE WHEN rn = med_rank THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(MAX(CASE WHEN rn = lo_rank THEN cents END) AS BIGINT)
         AS ci_lo_cents,
       CAST(MAX(CASE WHEN rn = hi_rank THEN cents END) AS BIGINT)
         AS ci_hi_cents
FROM ranks GROUP BY grp ORDER BY grp
""",
    tags=("analytics", "stats"),
)
def q269_median_confidence_interval(spark, sf_dir):
    """Distribution-free 95% confidence interval for the per-group
    median (order-statistic method): the CI bounds are the values at
    ranks (n ± 1.96√n)/2 — no normality assumption, no bootstrap, no
    resampling, exact for any distribution. The lower median (rank
    (n+1)//2) and both bound ranks come from ONE row_number window per
    group over fixed-point cents (ties between equal values are
    harmless: any tie order selects the same cents), and a conditional
    aggregate plucks the three order statistics — so the whole CI
    costs one partitioned sort plus a group summary. Integer ranks
    derive from floor/ceil of identical double formulas in both
    engines. The estimator behind "is this median shift real?" without
    a z-test's assumptions."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    w = Window.partitionBy("grp").orderBy("cents")
    wn = Window.partitionBy("grp")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"), cents.alias("cents")
    ).select(
        "grp",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    nd = F.col("n").cast("double")
    med_rank = F.expr("(n + 1) div 2").cast("bigint")
    lo_rank = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor((nd - 1.96 * F.sqrt(nd)) / 2.0).cast("bigint"),
    )
    hi_rank = F.least(
        F.col("n"),
        F.ceil(1.0 + (nd + 1.96 * F.sqrt(nd)) / 2.0).cast("bigint"),
    )
    ranks = pts.select(
        "grp",
        "cents",
        "rn",
        "n",
        med_rank.alias("med_rank"),
        lo_rank.alias("lo_rank"),
        hi_rank.alias("hi_rank"),
    )
    return (
        ranks.groupBy("grp")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.max(
                F.when(F.col("rn") == F.col("med_rank"), F.col("cents"))
            )
            .cast("bigint")
            .alias("median_cents"),
            F.max(F.when(F.col("rn") == F.col("lo_rank"), F.col("cents")))
            .cast("bigint")
            .alias("ci_lo_cents"),
            F.max(F.when(F.col("rn") == F.col("hi_rank"), F.col("cents")))
            .cast("bigint")
            .alias("ci_hi_cents"),
        )
        .orderBy("grp")
    )


@query(
    "q277_kendall_tau",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS x,
         ntile(10) OVER (ORDER BY SUM(CAST(ROUND(o_totalprice * 100.0, 0)
                                           AS BIGINT)), o_custkey) AS y
  FROM orders GROUP BY o_custkey
), joint AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
  FROM per_cust GROUP BY x, y
), pairs AS (
  SELECT CAST(SUM(CASE WHEN a.x < b.x AND a.y < b.y
                       THEN a.c * b.c ELSE 0 END) AS BIGINT) AS conc,
         CAST(SUM(CASE WHEN a.x < b.x AND a.y > b.y
                       THEN a.c * b.c ELSE 0 END) AS BIGINT) AS disc
  FROM joint a CROSS JOIN joint b
), mx AS (
  SELECT CAST(SUM(tx * (tx - 1) // 2) AS BIGINT) AS tie_x,
         CAST(SUM(tx) AS BIGINT) AS n
  FROM (SELECT x, SUM(c) AS tx FROM joint GROUP BY x)
), my AS (
  SELECT CAST(SUM(ty * (ty - 1) // 2) AS BIGINT) AS tie_y
  FROM (SELECT y, SUM(c) AS ty FROM joint GROUP BY y)
), margins AS (
  SELECT mx.n, mx.tie_x, my.tie_y FROM mx, my
)
SELECT m.n, p.conc, p.disc,
       round(CAST(p.conc - p.disc AS DOUBLE)
             / sqrt((CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - m.tie_x)
                    * (CAST(m.n AS DOUBLE) * (m.n - 1) / 2.0 - m.tie_y)),
             6) AS tau_b_r
FROM pairs p, margins m
""",
    tags=("analytics", "stats"),
)
def q277_kendall_tau(spark, sf_dir):
    """Kendall tau-b association between a customer's order count and
    their revenue decile — rank correlation that, like q233's
    Mann-Whitney, never materializes per-row ranks: customers collapse
    to a JOINT FREQUENCY TABLE over (order-count, revenue-decile), and
    concordant/discordant mass comes from cell-pair products over that
    table — cells² work, bounded by the two cardinalities (a few
    hundred cells here), regardless of customer count. Tie corrections
    come from the table's margins; everything is exact BIGINT until
    the closing tau-b expression. The decile uses a deterministic
    (revenue, custkey) ntile. This is how rank association scales to
    100 TB: bucket one axis if it's continuous, then the joint table
    IS the statistic's sufficient summary."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    rev = F.sum(money("o_totalprice")).cast("bigint")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("x"), rev.alias("rev")
    )
    y = F.ntile(10).over(Window.orderBy("rev", "o_custkey"))
    joint = (
        per_cust.select("x", y.alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = joint.select(
        F.col("x").alias("xa"), F.col("y").alias("ya"), F.col("c").alias("ca")
    )
    b = joint.select(
        F.col("x").alias("xb"), F.col("y").alias("yb"), F.col("c").alias("cb")
    )
    crossed = a.crossJoin(b)
    pairs = crossed.agg(
        F.sum(
            F.when(
                (F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")),
                F.col("ca") * F.col("cb"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conc"),
        F.sum(
            F.when(
                (F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")),
                F.col("ca") * F.col("cb"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("disc"),
    )
    # tie terms must count each margin VALUE once — aggregating the
    # window-summed cells would count tx(tx-1)/2 once per cell instead
    mx = (
        joint.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("tx"))
        .agg(
            F.sum(F.expr("tx * (tx - 1) div 2"))
            .cast("bigint")
            .alias("tie_x"),
            F.sum("tx").cast("bigint").alias("n"),
        )
    )
    my = (
        joint.groupBy("y")
        .agg(F.sum("c").cast("bigint").alias("ty"))
        .agg(
            F.sum(F.expr("ty * (ty - 1) div 2"))
            .cast("bigint")
            .alias("tie_y")
        )
    )
    margins = mx.crossJoin(my)
    nd = F.col("n").cast("double")
    n0 = nd * (F.col("n") - 1) / 2.0
    tau = (F.col("conc") - F.col("disc")).cast("double") / F.sqrt(
        (n0 - F.col("tie_x")) * (n0 - F.col("tie_y"))
    )
    return pairs.crossJoin(margins).select(
        "n", "conc", "disc", F.round(tau, 6).alias("tau_b_r")
    )


@query(
    "q283_capture_recapture",
    oracle="""
WITH sampled AS (
  SELECT o_custkey,
         CAST(CASE WHEN ('0x' || substr(md5('crA|'
                || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 30
              THEN 1 ELSE 0 END AS INT) AS in_a,
         CAST(CASE WHEN ('0x' || substr(md5('crB|'
                || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 < 30
              THEN 1 ELSE 0 END AS INT) AS in_b
  FROM orders
), marks AS (
  SELECT o_custkey,
         CAST(MAX(in_a) AS INT) AS seen_a,
         CAST(MAX(in_b) AS INT) AS seen_b
  FROM sampled GROUP BY o_custkey
), counts AS (
  SELECT CAST(SUM(seen_a) AS BIGINT) AS na,
         CAST(SUM(seen_b) AS BIGINT) AS nb,
         CAST(SUM(seen_a * seen_b) AS BIGINT) AS nboth,
         CAST(COUNT(*) AS BIGINT) AS n_true
  FROM marks
)
SELECT na, nb, nboth, n_true,
       CAST((na + 1) * (nb + 1) // (nboth + 1) - 1 AS BIGINT)
         AS chapman_estimate,
       round((CAST((na + 1) * (nb + 1) // (nboth + 1) - 1 AS DOUBLE)
              - n_true) / n_true, 6) AS rel_error_r
FROM counts
""",
    tags=("analytics", "stats", "estimation"),
)
def q283_capture_recapture(spark, sf_dir):
    """Capture-recapture population estimation (Chapman estimator): how
    many distinct customers exist, estimated from TWO independent 30%
    order samples — the ecology technique data teams use to size an
    entity population (dedup'd users, unique bugs, distinct SKUs) when
    a full scan is impractical: N ≈ (nA+1)(nB+1)/(nAB+1) - 1 from just
    the two sample marks and their overlap. Samples are independent
    md5 coins on the order key, customer marks are one groupBy, the
    estimate is exact integer division, and the true distinct count
    rides along to expose the relative error — making the estimator
    itself auditable, the same pattern as the q246/q262 sketch audits.
    One shuffle, three numbers, no corpus-sized state."""
    o = table(spark, sf_dir, "orders")

    def coin(prefix):
        return (
            (
                md5_bits(F.concat(F.lit(prefix), F.col("o_orderkey").cast("string")), 8)
                % 100
            )
            < 30
        ).cast("int")

    marks = (
        o.select("o_custkey", coin("crA|").alias("in_a"), coin("crB|").alias("in_b"))
        .groupBy("o_custkey")
        .agg(
            F.max("in_a").alias("seen_a"),
            F.max("in_b").alias("seen_b"),
        )
    )
    counts = marks.agg(
        F.sum("seen_a").cast("bigint").alias("na"),
        F.sum("seen_b").cast("bigint").alias("nb"),
        F.sum(F.col("seen_a") * F.col("seen_b")).cast("bigint").alias("nboth"),
        F.count("*").cast("bigint").alias("n_true"),
    )
    chapman = F.expr("(na + 1) * (nb + 1) div (nboth + 1) - 1").cast(
        "bigint"
    )
    return counts.select(
        "na",
        "nb",
        "nboth",
        "n_true",
        chapman.alias("chapman_estimate"),
        F.round(
            (chapman.cast("double") - F.col("n_true")) / F.col("n_true"), 6
        ).alias("rel_error_r"),
    )


@query(
    "q284_markov_baseline_accuracy",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type, event_type AS next_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
), best AS (
  SELECT prev_type, next_type AS predicted, c,
         row_number() OVER (PARTITION BY prev_type
                            ORDER BY c DESC, next_type) AS rk,
         CAST(SUM(c) OVER (PARTITION BY prev_type) AS BIGINT) AS row_tot
  FROM trans
)
SELECT prev_type, predicted,
       CAST(c AS BIGINT) AS n_correct,
       row_tot AS n_total,
       round(CAST(c AS DOUBLE) / row_tot, 6) AS accuracy_r
FROM best WHERE rk = 1
ORDER BY prev_type
""",
    tags=("analytics", "eval", "sequence"),
)
def q284_markov_baseline_accuracy(spark, sf_dir):
    """Markov next-event baseline accuracy — the floor every sequence
    model must beat, computed from the data itself: for each current
    event type, predict the historically most frequent next type
    (deterministic argmax: count DESC, name ASC) and report how often
    that prediction is right. Builds directly on q111's transition
    matrix (lag window, one user shuffle, type x type aggregate); the
    per-row argmax and row totals are one window pass over the tiny
    matrix, so the evaluation costs nothing beyond the matrix build.
    If a sequence model can't beat accuracy_r it has learned less than
    a lookup table — the cheapest honest baseline there is."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wb = Window.partitionBy("prev_type").orderBy(
        F.col("c").desc(), "next_type"
    )
    wt = Window.partitionBy("prev_type")
    best = trans.select(
        "prev_type",
        F.col("next_type").alias("predicted"),
        "c",
        F.row_number().over(wb).alias("rk"),
        F.sum("c").over(wt).cast("bigint").alias("row_tot"),
    )
    return (
        best.filter(F.col("rk") == 1)
        .select(
            "prev_type",
            "predicted",
            F.col("c").cast("bigint").alias("n_correct"),
            F.col("row_tot").alias("n_total"),
            F.round(F.col("c").cast("double") / F.col("row_tot"), 6).alias(
                "accuracy_r"
            ),
        )
        .orderBy("prev_type")
    )


@query(
    "q285_brier_decomposition",
    oracle="""
WITH subj AS (
  SELECT f.user_id,
         LEAST(CAST(10 AS BIGINT), f.recency) AS score_decile,
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
  SELECT score_decile AS bin,
         CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(SUM(churned) AS BIGINT) AS ok
  FROM subj GROUP BY bin
), tot AS (
  SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(ok) AS BIGINT) AS o
  FROM bins
), terms AS (
  SELECT b.bin, b.nk, b.ok, t.n, t.o,
         CAST(ROUND((CAST(b.bin AS DOUBLE) / 10.0
                     - CAST(b.ok AS DOUBLE) / b.nk)
                    * (CAST(b.bin AS DOUBLE) / 10.0
                       - CAST(b.ok AS DOUBLE) / b.nk)
                    * b.nk * 1000000.0, 0) AS BIGINT) AS rel_micro,
         CAST(ROUND((CAST(b.ok AS DOUBLE) / b.nk
                     - CAST(t.o AS DOUBLE) / t.n)
                    * (CAST(b.ok AS DOUBLE) / b.nk
                       - CAST(t.o AS DOUBLE) / t.n)
                    * b.nk * 1000000.0, 0) AS BIGINT) AS res_micro
  FROM bins b CROSS JOIN tot t
)
SELECT CAST(MIN(n) AS BIGINT) AS n_users,
       round(CAST(SUM(rel_micro) AS DOUBLE) / 1000000.0 / MIN(n), 6)
         AS reliability_r,
       round(CAST(SUM(res_micro) AS DOUBLE) / 1000000.0 / MIN(n), 6)
         AS resolution_r,
       round((CAST(MIN(o) AS DOUBLE) / MIN(n))
             * (1.0 - CAST(MIN(o) AS DOUBLE) / MIN(n)), 6)
         AS uncertainty_r
FROM terms
""",
    tags=("analytics", "eval", "mlops"),
)
def q285_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score — reliability (is the
    forecast calibrated?), resolution (does it separate outcomes?),
    uncertainty (base-rate entropy floor) — for a deterministic
    recency-based churn score (recency days capped at 10, read as
    probability deciles) against q267's no-purchase-in-horizon label.
    This is how a forecast gets graded beyond a single loss number:
    Brier = reliability - resolution + uncertainty, and the three
    parts tell you whether to recalibrate (high reliability term) or
    go find features (low resolution). Per-bin terms are fixed-pointed
    to micro-units before the cross-bin sum (the shared-denominator
    doubles are deterministic per bin; the SUM must not depend on bin
    order); bins and totals are two tiny aggregates over the per-user
    summary."""
    subj = churn_panel(table(spark, sf_dir, "events")).select(
        recency_score().alias("bin"), "churned"
    )
    bins = subj.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("nk"),
        F.sum("churned").cast("bigint").alias("ok"),
    )
    tot = bins.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("ok").cast("bigint").alias("o"),
    )
    p_hat = F.col("bin").cast("double") / 10.0
    o_rate = F.col("ok").cast("double") / F.col("nk")
    base = F.col("o").cast("double") / F.col("n")
    terms = bins.crossJoin(F.broadcast(tot)).select(
        "n",
        "o",
        money((p_hat - o_rate) * (p_hat - o_rate) * F.col("nk"), 6).alias("rel_micro"),
        money((o_rate - base) * (o_rate - base) * F.col("nk"), 6).alias("res_micro"),
    )
    return terms.agg(
        F.min("n").cast("bigint").alias("n_users"),
        F.round(
            F.sum("rel_micro").cast("double") / 1e6 / F.min("n"), 6
        ).alias("reliability_r"),
        F.round(
            F.sum("res_micro").cast("double") / 1e6 / F.min("n"), 6
        ).alias("resolution_r"),
        F.round(
            (F.min("o").cast("double") / F.min("n"))
            * (1.0 - F.min("o").cast("double") / F.min("n")),
            6,
        ).alias("uncertainty_r"),
    )


@query(
    "q286_roc_auc",
    oracle="""
WITH subj AS (
  SELECT f.user_id,
         LEAST(CAST(10 AS BIGINT), f.recency) AS score,
         CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS y
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
), vals AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(y) AS BIGINT) AS t1
  FROM subj GROUP BY score
), ranked AS (
  SELECT t, t1,
         CAST(COALESCE(SUM(t) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM vals
), agg AS (
  SELECT CAST(SUM(t1) AS BIGINT) AS n1,
         CAST(SUM(t - t1) AS BIGINT) AS n0,
         CAST(SUM(t1 * (2 * cum_before + t + 1)) AS BIGINT) AS r1_x2
  FROM ranked
)
SELECT n1 AS n_pos, n0 AS n_neg,
       CASE WHEN n1 > 0 AND n0 > 0 THEN
         round((CAST(r1_x2 AS DOUBLE) / 2.0
                - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0)
               / (CAST(n1 AS DOUBLE) * n0), 6)
       END AS auc_r
FROM agg
""",
    tags=("analytics", "eval", "mlops"),
)
def q286_roc_auc(spark, sf_dir):
    """ROC-AUC without sorting predictions per row — via the
    Mann-Whitney identity AUC = (R1 - n1(n1+1)/2) / (n1 n0), computed
    from the SAME doubled-average-rank machinery as q233: scores
    collapse to a (score -> count, positives) summary (capped recency
    deciles, churn label from q267's horizon), a running count over
    the sorted summary yields tied-average ranks, and AUC is one
    closed-form division of exact integers — ties handled exactly
    (each contributes 1/2), which naive trapezoid implementations
    get wrong. The ordered window runs over DISTINCT score values, so
    a billion predictions with a 10-point score cost a 10-row window.
    The companion to q285: that grades calibration, this grades pure
    ranking skill."""
    from pyspark.sql import Window

    subj = churn_panel(table(spark, sf_dir, "events")).select(
        recency_score().alias("score"), F.col("churned").alias("y")
    )
    vals = subj.groupBy("score").agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum("y").cast("bigint").alias("t1"),
    )
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.select(
        "t",
        "t1",
        F.coalesce(F.sum("t").over(wcum), F.lit(0))
        .cast("bigint")
        .alias("cum_before"),
    )
    agg = ranked.agg(
        F.sum("t1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("bigint").alias("n0"),
        F.sum(F.col("t1") * (2 * F.col("cum_before") + F.col("t") + 1))
        .cast("bigint")
        .alias("r1_x2"),
    )
    auc = (
        F.col("r1_x2").cast("double") / 2.0
        - F.col("n1").cast("double") * (F.col("n1") + 1) / 2.0
    ) / (F.col("n1").cast("double") * F.col("n0"))
    return agg.select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        # degenerate single-class splits (seen at sf0.001 after a
        # fixture drift: every subject converts in the horizon) yield
        # NULL instead of tripping ANSI divide-by-zero
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0), F.round(auc, 6)
        ).alias("auc_r"),
    )


@query(
    "q288_ndcg_at_k",
    oracle="""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT))
              AS BIGINT) AS qty_cents
  FROM lineitem GROUP BY l_partkey
), graded AS (
  SELECT l_partkey,
         row_number() OVER (ORDER BY rev_cents DESC, l_partkey) AS pred_rank,
         CAST(ntile(10) OVER (ORDER BY qty_cents, l_partkey) AS BIGINT)
           AS rel
  FROM per_part
), dcg AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(rel AS DOUBLE)
                / ln(pred_rank + 1.0) * ln(2.0) * 1000000.0, 0)
                AS BIGINT)) AS BIGINT) AS dcg_micro
  FROM graded WHERE pred_rank <= 20
), ideal AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(rel AS DOUBLE)
                / ln(ideal_rank + 1.0) * ln(2.0) * 1000000.0, 0)
                AS BIGINT)) AS BIGINT) AS idcg_micro
  FROM (
    SELECT rel, row_number() OVER (ORDER BY rel DESC, l_partkey)
             AS ideal_rank
    FROM graded
  ) WHERE ideal_rank <= 20
)
SELECT CAST(20 AS INT) AS k,
       round(CAST(d.dcg_micro AS DOUBLE) / 1000000.0, 6) AS dcg_r,
       round(CAST(i.idcg_micro AS DOUBLE) / 1000000.0, 6) AS idcg_r,
       round(CAST(d.dcg_micro AS DOUBLE) / i.idcg_micro, 6) AS ndcg_r
FROM dcg d CROSS JOIN ideal i
""",
    tags=("analytics", "eval", "ranking"),
)
def q288_ndcg_at_k(spark, sf_dir):
    """NDCG@20 with graded relevance — the ranking-eval standard where
    q264's overlap@k only counts membership: parts RANKED by revenue
    (the prediction) are scored against their quantity decile (the
    graded ground truth), normalized by the ideal ordering. Each DCG
    term rel/log2(rank+1) is fixed-pointed to micro-units per rank
    BEFORE summation (ranks and grades are exact integers, so the
    per-term double is identical in both engines); deterministic
    (metric, key) tie orders everywhere. Both rankings come from one
    grouped pass + windows over the item summary; the @20 cutoff
    means the DCG sums see 20 rows regardless of catalog size."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice"))
        .cast("bigint")
        .alias("rev_cents"),
        F.sum(money("l_quantity"))
        .cast("bigint")
        .alias("qty_cents"),
    )
    wp = Window.orderBy(F.col("rev_cents").desc(), "l_partkey")
    wr = Window.orderBy("qty_cents", "l_partkey")
    graded = per_part.select(
        "l_partkey",
        F.row_number().over(wp).alias("pred_rank"),
        F.ntile(10).over(wr).cast("bigint").alias("rel"),
    ).localCheckpoint(eager=False)

    def dcg_micro(rank_col):
        return (
            money(
                F.col("rel").cast("double")
                / F.log(F.col(rank_col) + 1.0)
                * float(__import__("math").log(2.0)),
                6,
            )
        )

    dcg = graded.filter(F.col("pred_rank") <= 20).agg(
        F.sum(dcg_micro("pred_rank")).cast("bigint").alias("dcg_micro")
    )
    wi = Window.orderBy(F.col("rel").desc(), "l_partkey")
    ideal = (
        graded.select("l_partkey", "rel", F.row_number().over(wi).alias("ideal_rank"))
        .filter(F.col("ideal_rank") <= 20)
        .agg(F.sum(dcg_micro("ideal_rank")).cast("bigint").alias("idcg_micro"))
    )
    return dcg.crossJoin(ideal).select(
        F.lit(20).cast("int").alias("k"),
        F.round(F.col("dcg_micro").cast("double") / 1e6, 6).alias("dcg_r"),
        F.round(F.col("idcg_micro").cast("double") / 1e6, 6).alias("idcg_r"),
        F.round(
            F.col("dcg_micro").cast("double") / F.col("idcg_micro"), 6
        ).alias("ndcg_r"),
    )


@query(
    "q289_threshold_sweep",
    oracle="""
WITH subj AS (
  SELECT f.user_id,
         LEAST(CAST(10 AS BIGINT), f.recency) AS score,
         CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS y
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
), ths AS (
  SELECT CAST(t.t AS BIGINT) AS threshold
  FROM generate_series(1, 10) t(t)
), confusion AS (
  SELECT th.threshold,
         CAST(SUM(CASE WHEN s.score >= th.threshold AND s.y = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN s.score >= th.threshold AND s.y = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN s.score < th.threshold AND s.y = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM subj s CROSS JOIN ths th
  GROUP BY th.threshold
)
SELECT threshold, tp, fp, fn,
       round(CASE WHEN tp + fp > 0
             THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision_r,
       round(CASE WHEN tp + fn > 0
             THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall_r,
       CAST(fp * 100 + fn * 500 AS BIGINT) AS expected_cost_cents
FROM confusion ORDER BY threshold
""",
    tags=("analytics", "eval", "mlops"),
)
def q289_threshold_sweep(spark, sf_dir):
    """Operating-point selection table: the churn score swept across
    every threshold, with the confusion counts, precision/recall, and
    an asymmetric expected cost (a false negative — a churner we
    didn't call — costs 5x a wasted outreach) at each cut. This is the
    artifact that turns a model into a POLICY: the business picks the
    cost-minimizing row, not the AUC. One broadcast cross join of the
    10-row threshold spine against the per-user summary computes all
    operating points in a single aggregate pass — no per-threshold
    re-scans; precision guards its empty-selection edge with NULL
    rather than a divide-by-zero. Completes the model-eval suite:
    q285 calibration, q286 ranking, q288 graded ranking, this the
    decision layer."""
    subj = churn_panel(table(spark, sf_dir, "events")).select(
        recency_score().alias("score"), F.col("churned").alias("y")
    )
    ths = spark.range(1, 11).select(F.col("id").cast("bigint").alias("threshold"))
    sel = F.col("score") >= F.col("threshold")
    confusion = (
        subj.crossJoin(F.broadcast(ths))
        .groupBy("threshold")
        .agg(
            F.sum((sel & (F.col("y") == 1)).cast("int"))
            .cast("bigint")
            .alias("tp"),
            F.sum((sel & (F.col("y") == 0)).cast("int"))
            .cast("bigint")
            .alias("fp"),
            F.sum((~sel & (F.col("y") == 1)).cast("int"))
            .cast("bigint")
            .alias("fn"),
        )
    )
    return confusion.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        F.round(
            F.when(
                (F.col("tp") + F.col("fp")) > 0,
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
            ),
            6,
        ).alias("precision_r"),
        F.round(
            F.when(
                (F.col("tp") + F.col("fn")) > 0,
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
            ),
            6,
        ).alias("recall_r"),
        (F.col("fp") * 100 + F.col("fn") * 500)
        .cast("bigint")
        .alias("expected_cost_cents"),
    ).orderBy("threshold")


@query(
    "q299_lorenz_concentration",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
  FROM per_cust
), tot AS (
  SELECT CAST(SUM(cents) AS BIGINT) AS all_cents,
         CAST(COUNT(*) AS BIGINT) AS n FROM ranked
)
SELECT CAST(r.decile AS INT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(r.cents) AS BIGINT) AS cents,
       round(CAST(SUM(r.cents) AS DOUBLE) / t.all_cents, 6) AS share_r,
       round(CAST(SUM(SUM(r.cents)) OVER (ORDER BY r.decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / t.all_cents, 6) AS cum_share_r
FROM ranked r CROSS JOIN tot t
GROUP BY r.decile, t.all_cents
ORDER BY decile
""",
    tags=("analytics", "finance"),
)
def q299_lorenz_concentration(spark, sf_dir):
    """Lorenz concentration table: customer revenue deciles (poorest to
    richest) with per-decile and cumulative revenue shares — the
    business-readable companion to q163's Gini scalar, and the exact
    "top decile carries X% of revenue" figure concentration-risk
    reviews quote. Deterministic ntile over (cents, custkey); the
    cumulative share is a 10-row running sum OVER THE AGGREGATE (a
    window above groupBy — Catalyst plans it after the partial
    aggregate, so the window sees deciles, not customers). One
    customer-keyed shuffle; everything after is 10 rows."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = per_cust.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy("cents", "o_custkey"))
        .alias("decile"),
    )
    tot = ranked.agg(
        F.sum("cents").cast("bigint").alias("all_cents"),
        F.count("*").cast("bigint").alias("n"),
    )
    grouped = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy("decile", "all_cents")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return grouped.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        "cents",
        F.round(
            F.col("cents").cast("double") / F.col("all_cents"), 6
        ).alias("share_r"),
        F.round(
            F.sum("cents").over(wcum).cast("double") / F.col("all_cents"),
            6,
        ).alias("cum_share_r"),
    ).orderBy("decile")


@query(
    "q309_graph_stability",
    oracle="""
WITH halves AS (
  SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS d,
         CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
              THEN 0 ELSE 1 END AS half
  FROM events
), ok0 AS (
  SELECT event_type, d FROM halves WHERE half = 0
  GROUP BY event_type, d HAVING COUNT(*) <= 4096
), ok1 AS (
  SELECT event_type, d FROM halves WHERE half = 1
  GROUP BY event_type, d HAVING COUNT(*) <= 4096
), e0 AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM halves a JOIN halves b
    ON a.event_type = b.event_type AND a.d = b.d
       AND a.user_id < b.user_id
  JOIN ok0 ON ok0.event_type = a.event_type AND ok0.d = a.d
  WHERE a.half = 0 AND b.half = 0
), e1 AS (
  SELECT DISTINCT a.user_id AS u, b.user_id AS v
  FROM halves a JOIN halves b
    ON a.event_type = b.event_type AND a.d = b.d
       AND a.user_id < b.user_id
  JOIN ok1 ON ok1.event_type = a.event_type AND ok1.d = a.d
  WHERE a.half = 1 AND b.half = 1
), flags AS (
  SELECT COALESCE(e0.u, e1.u) AS u, COALESCE(e0.v, e1.v) AS v,
         CASE WHEN e0.u IS NOT NULL THEN 1 ELSE 0 END AS in0,
         CASE WHEN e1.u IS NOT NULL THEN 1 ELSE 0 END AS in1
  FROM e0 FULL OUTER JOIN e1 ON e1.u = e0.u AND e1.v = e0.v
)
SELECT CAST(COALESCE(SUM(in0), 0) AS BIGINT) AS n_edges_first,
       CAST(COALESCE(SUM(in1), 0) AS BIGINT) AS n_edges_second,
       CAST(COALESCE(SUM(in0 * in1), 0) AS BIGINT) AS n_shared,
       round(CAST(COALESCE(SUM(in0 * in1), 0) AS DOUBLE)
             / NULLIF(COALESCE(SUM(in0), 0) + COALESCE(SUM(in1), 0)
                      - COALESCE(SUM(in0 * in1), 0), 0), 6)
         AS edge_jaccard_r
FROM flags
""",
    tags=("analytics", "graph", "monitoring"),
)
def q309_graph_stability(spark, sf_dir):
    """Co-visitation graph stability: the edge sets built from the
    first and second halves of the month, compared by exact edge
    Jaccard — the stationarity check that decides whether
    graph-derived features (q146 triangles, q119 PageRank) can be
    computed weekly and cached, or whether the structure churns too
    fast to reuse. Both edge sets come from the capped posting-list
    pair machinery (same-day-same-type co-occurrence, distinct
    pairs; the oracle mirrors the max_bucket=4096 drop so the cap is
    parity-PROVEN when it engages — at 10x every (type, day) bucket
    exceeds the cap and both engines agree on the empty graph), and
    the comparison is the q244 membership-flag full-outer join — one aggregate over the unioned edge keys, no edge set ever
    collected. A high Jaccard certifies cacheable structure; a low
    one is itself the drift alarm."""
    ev = table(spark, sf_dir, "events")
    halves = (
        ev.select(
            "user_id",
            "event_type",
            F.col("ts").cast("date").alias("d"),
            (
                F.col("ts").cast("date")
                >= F.lit("2024-01-16").cast("date")
            )
            .cast("int")
            .alias("half"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def edges(h):
        side = halves.filter(F.col("half") == h)
        return cooccurrence_pairs(
            side, "user_id", ["event_type", "d"], max_bucket=4096
        ).select("u", "v").distinct()

    e0 = edges(0).withColumn("in0", F.lit(1))
    e1 = edges(1).withColumn("in1", F.lit(1))
    flags = e0.join(e1, ["u", "v"], "full_outer").select(
        F.coalesce("in0", F.lit(0)).alias("in0"),
        F.coalesce("in1", F.lit(0)).alias("in1"),
    )
    shared = F.coalesce(F.sum(F.col("in0") * F.col("in1")), F.lit(0))
    s0 = F.coalesce(F.sum("in0"), F.lit(0))
    s1 = F.coalesce(F.sum("in1"), F.lit(0))
    return flags.agg(
        s0.cast("bigint").alias("n_edges_first"),
        s1.cast("bigint").alias("n_edges_second"),
        shared.cast("bigint").alias("n_shared"),
        F.round(
            shared.cast("double") / F.nullif(s0 + s1 - shared, F.lit(0)),
            6,
        ).alias("edge_jaccard_r"),
    )


@query(
    "q321_jackknife_variance",
    oracle="""
WITH seg AS (
  SELECT c_nationkey AS segment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM customer GROUP BY segment
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(n) AS BIGINT) AS n_all,
         CAST(SUM(cents) AS BIGINT) AS cents_all
  FROM seg
), pseudo AS (
  SELECT s.segment,
         CAST(ROUND((CAST(t.cents_all - s.cents AS DOUBLE)
                     / (t.n_all - s.n)) * 100.0, 0) AS BIGINT)
           AS loo_mean_centi
  FROM seg s CROSS JOIN tot t
), jk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS g,
         CAST(SUM(loo_mean_centi) AS BIGINT) AS s1,
         CAST(SUM(loo_mean_centi * loo_mean_centi) AS BIGINT) AS s2
  FROM pseudo
)
SELECT t.g AS n_groups,
       round(CAST(t.cents_all AS DOUBLE) / t.n_all / 100.0, 6) AS mean_r,
       round(sqrt((CAST(j.g - 1 AS DOUBLE) / j.g)
                  * (CAST(j.s2 AS DOUBLE) / 100.0 / 100.0
                     - (CAST(j.s1 AS DOUBLE) / 100.0)
                       * (CAST(j.s1 AS DOUBLE) / 100.0) / j.g))
             / 100.0, 6) AS jackknife_se_r
FROM tot t CROSS JOIN jk j
""",
    tags=("analytics", "stats"),
)
def q321_jackknife_variance(spark, sf_dir):
    """Delete-one-group jackknife standard error for the mean account
    balance — the resampling-family variance estimator that works when
    observations CLUSTER (deleting whole nations captures
    between-group correlation a per-row formula ignores; this is the
    grouped/cluster-robust jackknife survey statisticians use). Every
    leave-one-out mean is closed-form from the group sums (no
    re-scans: (total - group)/(n - group_n)), centi-fixed per group so
    the pseudo-value moments are exact BIGINTs (micro would square
    past BIGINT), and the SE combines
    them in one final expression. One grouped pass + a groups-sized
    summary, however many rows."""
    c = table(spark, sf_dir, "customer")
    cents = money("c_acctbal")
    seg = c.groupBy(F.col("c_nationkey").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("cents"),
    ).localCheckpoint(eager=False)
    tot = seg.agg(
        F.count("*").cast("bigint").alias("g"),
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("cents").cast("bigint").alias("cents_all"),
    )
    # centi fixed point: micro-scaled pseudo-values square past BIGINT
    pseudo = seg.crossJoin(F.broadcast(tot)).select(
        money(
            (F.col("cents_all") - F.col("cents")).cast("double")
            / (F.col("n_all") - F.col("n")),
        )
        .alias("loo_mean_centi")
    )
    jk = pseudo.agg(
        F.count("*").cast("bigint").alias("gj"),
        F.sum("loo_mean_centi").cast("bigint").alias("s1"),
        F.sum(F.col("loo_mean_centi") * F.col("loo_mean_centi"))
        .cast("bigint")
        .alias("s2"),
    )
    gj = F.col("gj").cast("double")
    var_loo = (
        F.col("s2").cast("double") / 100.0 / 100.0
        - (F.col("s1").cast("double") / 100.0)
        * (F.col("s1").cast("double") / 100.0)
        / F.col("gj")
    )
    return (
        tot.crossJoin(F.broadcast(jk))
        .select(
            F.col("g").alias("n_groups"),
            F.round(
                F.col("cents_all").cast("double") / F.col("n_all") / 100.0,
                6,
            ).alias("mean_r"),
            F.round(
                F.sqrt((gj - 1) / gj * var_loo) / 100.0, 6
            ).alias("jackknife_se_r"),
        )
    )


@query(
    "q322_shift_share",
    oracle="""
WITH seg AS (
  SELECT c_mktsegment AS segment,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS cents0,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1998-01-01'
                  THEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS cents1
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY segment
), tot AS (
  SELECT CAST(SUM(n0) AS BIGINT) AS tn0, CAST(SUM(n1) AS BIGINT) AS tn1
  FROM seg
)
SELECT s.segment, s.n0, s.n1,
       round((CAST(s.n1 AS DOUBLE) / t.tn1 - CAST(s.n0 AS DOUBLE) / t.tn0)
             * (CAST(s.cents0 AS DOUBLE) / s.n0) / 100.0, 6)
         AS mix_effect_r,
       round((CAST(s.cents1 AS DOUBLE) / s.n1
              - CAST(s.cents0 AS DOUBLE) / s.n0)
             * (CAST(s.n1 AS DOUBLE) / t.tn1) / 100.0, 6)
         AS rate_effect_r,
       round((CAST(s.cents1 AS DOUBLE) / s.n1) * (CAST(s.n1 AS DOUBLE)
              / t.tn1) / 100.0
             - (CAST(s.cents0 AS DOUBLE) / s.n0) * (CAST(s.n0 AS DOUBLE)
                / t.tn0) / 100.0, 6) AS total_effect_r
FROM seg s CROSS JOIN tot t
ORDER BY s.segment
""",
    tags=("analytics", "finance"),
)
def q322_shift_share(spark, sf_dir):
    """Shift-share decomposition of average order value between two
    periods (pre/post 1998): each segment's contribution splits into a
    MIX effect (its share of orders changed, valued at old prices) and
    a RATE effect (its average order value changed, weighted by new
    share) — the decomposition that ends "revenue per order fell, who
    is to blame?" arguments by separating behavior change from
    composition change (Simpson's-paradox cases show a positive rate
    effect in every segment while mix drags the total down). One fact
    join + one grouped pass produces all eight integer sums; the
    effects are closed-form doubles per segment, and mix+rate sums to
    the total by construction."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = money("o_totalprice")
    is0 = F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")
    seg = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(is0.cast("int")).cast("bigint").alias("n0"),
            F.sum(F.when(is0, cents).otherwise(0))
            .cast("bigint")
            .alias("cents0"),
            F.sum((~is0).cast("int")).cast("bigint").alias("n1"),
            F.sum(F.when(~is0, cents).otherwise(0))
            .cast("bigint")
            .alias("cents1"),
        )
        .localCheckpoint(eager=False)
    )
    tot = seg.agg(
        F.sum("n0").cast("bigint").alias("tn0"),
        F.sum("n1").cast("bigint").alias("tn1"),
    )
    sh0 = F.col("n0").cast("double") / F.col("tn0")
    sh1 = F.col("n1").cast("double") / F.col("tn1")
    r0 = F.col("cents0").cast("double") / F.col("n0")
    r1 = F.col("cents1").cast("double") / F.col("n1")
    return (
        seg.crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "n0",
            "n1",
            F.round((sh1 - sh0) * r0 / 100.0, 6).alias("mix_effect_r"),
            F.round((r1 - r0) * sh1 / 100.0, 6).alias("rate_effect_r"),
            F.round(r1 * sh1 / 100.0 - r0 * sh0 / 100.0, 6).alias(
                "total_effect_r"
            ),
        )
        .orderBy("segment")
    )


@query(
    "q326_hhi_concentration",
    oracle="""
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY month, o_custkey
), tot AS (
  SELECT month, CAST(SUM(cents) AS BIGINT) AS all_cents
  FROM monthly GROUP BY month
), shares AS (
  SELECT m.month,
         CAST(ROUND(CAST(m.cents AS DOUBLE) / t.all_cents
                    * 1000000.0, 0) AS BIGINT) AS share_micro
  FROM monthly m JOIN tot t ON t.month = m.month
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST((SUM(share_micro * share_micro) + 50) // 100 AS DOUBLE)
         / 1000000.0 AS hhi_r
FROM shares GROUP BY month ORDER BY month
""",
    tags=("analytics", "finance"),
)
def q326_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration index per month — the
    antitrust-grade concentration number (0-10000 scale; >2500 reads
    "highly concentrated") tracking whether revenue is consolidating
    onto few customers over time: the trend q299's static Lorenz
    table can't show. Monthly customer shares are micro-fixed once
    (one rounded division each, share sums canceled by construction),
    so the Σshare² reduction is an exact BIGINT sum per month —
    order-independent where naive float share-squaring would drift.
    Two grouped passes (customer-month, month), calendar-sized
    output."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        "o_custkey",
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    tot = monthly.groupBy("month").agg(
        F.sum("cents").cast("bigint").alias("all_cents")
    )
    shares = monthly.join(tot, "month").select(
        "month",
        money(F.col("cents").cast("double") / F.col("all_cents"), 6)
        .alias("share_micro"),
    )
    return (
        shares.groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            # On the 0-10000 scale, hhi = S/1e8 for the exact integer
            # S = Σ share_micro²; round to 6dp IN INTEGERS
            # ((S+50) div 100) — a final round(double, 6) sat exactly on
            # a half boundary at sf0.1 and Spark/DuckDB broke the tie
            # differently (1-ulp FAIL caught by the full-scale parity
            # gate, r4).
            (
                F.expr(
                    "CAST((sum(share_micro * share_micro) + 50) div 100"
                    " AS DOUBLE)"
                )
                / 1000000.0
            ).alias("hhi_r"),
        )
        .orderBy("month")
    )


@query(
    "q328_cache_coverage_curve",
    oracle="""
WITH pop AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS hits
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT hits,
         row_number() OVER (ORDER BY hits DESC, l_partkey) AS rk,
         CAST(SUM(hits) OVER () AS BIGINT) AS total
  FROM pop
), spine AS (
  SELECT CAST(k.k AS BIGINT) AS cache_size
  FROM (VALUES (10), (50), (100), (500), (1000)) k(k)
)
SELECT s.cache_size,
       CAST(SUM(CASE WHEN r.rk <= s.cache_size THEN r.hits ELSE 0 END)
            AS BIGINT) AS covered_hits,
       CAST(MIN(r.total) AS BIGINT) AS total_hits,
       round(CAST(SUM(CASE WHEN r.rk <= s.cache_size
                      THEN r.hits ELSE 0 END) AS DOUBLE)
             / MIN(r.total), 6) AS hit_rate_r
FROM ranked r CROSS JOIN spine s
GROUP BY s.cache_size
ORDER BY s.cache_size
""",
    tags=("analytics", "systems"),
)
def q328_cache_coverage_curve(spark, sf_dir):
    """Cache-coverage planning curve: the best possible hit rate of a
    k-entry cache that pins the k most-accessed parts, for five
    candidate sizes — the stationary upper bound (perfect LFU) every
    cache sizing discussion should start from, because if the top-500
    items only cover 40% of accesses, no eviction policy saves you and
    the budget belongs elsewhere. Popularity ranks come from one
    grouped pass + a deterministic rank window over the item summary;
    all five cache sizes evaluate against the same ranked table via a
    broadcast spine (the q289/q293 one-pass-many-cutoffs pattern). The
    knee of this curve is the cache size worth paying for."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    pop = li.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("hits")
    )
    w = Window.orderBy(F.col("hits").desc(), "l_partkey")
    wt = Window.partitionBy()
    ranked = pop.select(
        "hits",
        F.row_number().over(w).alias("rk"),
        F.sum("hits").over(wt).cast("bigint").alias("total"),
    )
    spine = literal_frame(
        spark,
        [(10,), (50,), (100,), (500,), (1000,)], "cache_size bigint"
    )
    covered = F.sum(
        F.when(F.col("rk") <= F.col("cache_size"), F.col("hits")).otherwise(
            0
        )
    ).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(spine))
        .groupBy("cache_size")
        .agg(
            covered.alias("covered_hits"),
            F.min("total").cast("bigint").alias("total_hits"),
        )
        .select(
            "cache_size",
            "covered_hits",
            "total_hits",
            F.round(
                F.col("covered_hits").cast("double") / F.col("total_hits"),
                6,
            ).alias("hit_rate_r"),
        )
        .orderBy("cache_size")
    )


@query(
    "q333_qq_comparison",
    oracle="""
WITH subj AS (
  SELECT CAST(('0x' || substr(md5('qq|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS arm,
         CAST(ROUND(value * 100.0, 0) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), qs AS (
  SELECT CAST(1 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.1) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.1) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(2 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.2) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.2) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(3 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.3) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.3) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(4 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.4) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.4) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(5 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.5) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.5) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(6 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.6) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.6) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(7 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.7) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.7) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(8 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.8) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.8) / 100.0, 6) AS q_b_r
  FROM subj
  UNION ALL
  SELECT CAST(9 AS INT) AS decile,
         round(quantile_cont(CASE WHEN arm = 0 THEN v END,
                             0.9) / 100.0, 6) AS q_a_r,
         round(quantile_cont(CASE WHEN arm = 1 THEN v END,
                             0.9) / 100.0, 6) AS q_b_r
  FROM subj
)
SELECT decile, q_a_r, q_b_r,
       round(q_b_r - q_a_r, 6) AS shift_r
FROM qs ORDER BY decile
""",
    tags=("analytics", "stats", "eval"),
)
def q333_qq_comparison(spark, sf_dir):
    """Quantile-quantile comparison table between two md5 arms'
    purchase values — the distribution-level treatment readout that
    shows WHERE an effect lives (a uniform shift_r column is a level
    effect; growth only in the top deciles is a whales-only effect
    that the mean would misattribute to everyone; crossing signs are
    the heterogeneity alarm). Nine matched exact interpolated deciles
    per arm from one grouped pass over fixed-point cents (conditional
    quantiles share the scan — no per-arm re-read), with per-decile
    shift as the deliverable column. Complements q233's Mann-Whitney:
    that tests IF distributions differ, this table shows HOW."""
    ev = table(spark, sf_dir, "events")
    arm = (
        md5_bits(F.concat(F.lit("qq|"), F.col("user_id").cast("string")), 8)
        % 2
    ).cast("int")
    subj = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        arm.alias("arm"),
        money("value").alias("v"),
    )
    va = F.when(F.col("arm") == 0, F.col("v"))
    vb = F.when(F.col("arm") == 1, F.col("v"))
    aggs = []
    for d in range(1, 10):
        aggs.append(
            F.round(F.percentile(va, F.lit(d / 10.0)) / 100.0, 6).alias(
                f"qa{d}"
            )
        )
        aggs.append(
            F.round(F.percentile(vb, F.lit(d / 10.0)) / 100.0, 6).alias(
                f"qb{d}"
            )
        )
    one = subj.agg(*aggs)
    stack = ", ".join(
        f"{d}, qa{d}, qb{d}" for d in range(1, 10)
    )
    return (
        one.selectExpr(
            f"stack(9, {stack}) AS (decile, q_a_r, q_b_r)"
        )
        .select(
            F.col("decile").cast("int").alias("decile"),
            "q_a_r",
            "q_b_r",
            F.round(F.col("q_b_r") - F.col("q_a_r"), 6).alias("shift_r"),
        )
        .orderBy("decile")
    )


@query(
    "q335_trending_scores",
    oracle="""
WITH hits AS (
  SELECT l.l_partkey,
         CAST(DATE '2001-09-01' - CAST(o.o_orderdate AS DATE) AS BIGINT)
           AS age_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE CAST(o.o_orderdate AS DATE) >= DATE '2001-06-01'
), scored AS (
  SELECT l_partkey,
         CAST(COUNT(*) AS BIGINT) AS n_hits,
         CAST(SUM(CAST(ROUND(exp(-CAST(age_days AS DOUBLE) / 14.0
                                 * 0.693147)
                             * 1000000.0, 0) AS BIGINT)) AS BIGINT)
           AS score_micro
  FROM hits GROUP BY l_partkey
)
SELECT l_partkey, n_hits,
       round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score_r
FROM scored
ORDER BY score_micro DESC, l_partkey
LIMIT 25
""",
    tags=("analytics", "ranking"),
)
def q335_trending_scores(spark, sf_dir):
    """Half-life trending ranking: each part's recent order lines
    weighted by exp(-age·ln2/14) — a 14-day half-life, the decay that
    makes "trending" mean ACCELERATING rather than merely popular (a
    steady seller and a spiking item with equal 90-day volume diverge
    immediately; compare q328's static popularity ranks). Decay
    weights are deterministic per integer age-day and micro-fixed
    BEFORE the per-item sum, so the ranking key is an exact BIGINT —
    no float-accumulation ranking instability at the top-25 cutoff.
    One fact join restricted by the recency filter (pushed to the
    scan), one grouped pass, TakeOrdered for the leaderboard."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    ref = F.lit("2001-09-01").cast("date")
    hits = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("od") >= F.lit("2001-06-01").cast("date"))
        .select(
            "l_partkey", F.datediff(ref, F.col("od")).cast("bigint").alias("age_days")
        )
    )
    w = money(F.exp(-F.col("age_days").cast("double") / 14.0 * 0.693147), 6)
    scored = hits.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.sum(w).cast("bigint").alias("score_micro"),
    )
    return (
        scored.select(
            "l_partkey",
            "n_hits",
            F.round(
                F.col("score_micro").cast("double") / 1e6, 6
            ).alias("score_r"),
        )
        .orderBy(F.col("score_r").desc(), "l_partkey")
        .limit(25)
    )


@query(
    "q336_decile_migration",
    oracle="""
WITH monthly AS (
  SELECT o_custkey,
         CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01'
  GROUP BY o_custkey, month
), tiered AS (
  SELECT o_custkey, month,
         ntile(4) OVER (PARTITION BY month
                        ORDER BY cents, o_custkey) AS tier
  FROM monthly
), moves AS (
  SELECT a.tier AS tier_from, b.tier AS tier_to
  FROM tiered a
  JOIN tiered b ON b.o_custkey = a.o_custkey
                AND b.month = a.month + INTERVAL 1 MONTH
)
SELECT CAST(tier_from AS INT) AS tier_from,
       CAST(tier_to AS INT) AS tier_to,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM moves GROUP BY tier_from, tier_to
ORDER BY tier_from, tier_to
""",
    tags=("analytics", "crm"),
)
def q336_decile_migration(spark, sf_dir):
    """Value-tier migration matrix: customers bucketed into monthly
    spend quartiles, counted by (tier this month → tier next month) —
    the CRM mobility table that distinguishes a healthy base (heavy
    diagonal) from churn-and-burn (mass flowing off the top tier).
    Deterministic ntile per month over (cents, custkey); the
    month-to-month self-join runs on the customer-month SUMMARY (one
    row per active customer per month), so the matrix costs one
    grouped pass, one windowed tiering, and a summary-sized join —
    never touching the order log twice. Customers absent next month
    simply don't pair (q324's growth accounting counts those)."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    monthly = (
        o.filter(
            F.col("o_orderdate").cast("date")
            >= F.lit("2001-01-01").cast("date")
        )
        .groupBy(
            "o_custkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(F.sum(money("o_totalprice")).cast("bigint").alias("cents"))
    )
    w = Window.partitionBy("month").orderBy("cents", "o_custkey")
    tiered = monthly.select(
        "o_custkey", "month", F.ntile(4).over(w).alias("tier")
    ).localCheckpoint(eager=False)
    a = tiered.select(
        "o_custkey", "month", F.col("tier").alias("tier_from")
    )
    b = tiered.select(
        "o_custkey",
        F.add_months(F.col("month"), -1).alias("month"),
        F.col("tier").alias("tier_to"),
    )
    return (
        a.join(b, ["o_custkey", "month"])
        .groupBy(
            F.col("tier_from").cast("int").alias("tier_from"),
            F.col("tier_to").cast("int").alias("tier_to"),
        )
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("tier_from", "tier_to")
    )


@query(
    "q339_budget_pacing",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders
  WHERE CAST(o_orderdate AS DATE) >= DATE '2001-01-01'
  GROUP BY day
), spine AS (
  SELECT day, cents,
         row_number() OVER (ORDER BY day) AS day_no,
         CAST(SUM(cents) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_cents,
         CAST(SUM(cents) OVER () AS BIGINT) AS total_cents,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days
  FROM daily
)
SELECT day, cum_cents,
       CAST(total_cents * day_no // n_days AS BIGINT) AS budget_cents,
       CAST(cum_cents - total_cents * day_no // n_days AS BIGINT)
         AS variance_cents,
       round(CAST(cum_cents AS DOUBLE)
             / (CAST(total_cents AS DOUBLE) * day_no / n_days), 6)
         AS pacing_r
FROM spine ORDER BY day
""",
    tags=("analytics", "finance", "ops"),
)
def q339_budget_pacing(spark, sf_dir):
    """Budget burn-down pacing: cumulative spend against a
    straight-line budget that exhausts the period total on the last
    day — the FinOps/marketing pacing chart whose pacing_r > 1 means
    "burning hot, will exhaust early". Using the realized total as
    the budget makes the chart self-normalizing (the END is on-pace
    by construction; the PATH shows front- or back-loading), which is
    how pacing reviews actually read it. Running sums and the linear
    benchmark are windows over the day summary; integer division for
    the budget line so both engines floor identically. One grouped
    pass, calendar-sized windows."""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            F.col("o_orderdate").cast("date")
            >= F.lit("2001-01-01").cast("date")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(money("o_totalprice")).cast("bigint").alias("cents"))
    )
    w = Window.orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    spine = daily.select(
        "day",
        F.row_number().over(w).alias("day_no"),
        F.sum("cents").over(wc).cast("bigint").alias("cum_cents"),
        F.sum("cents").over(wall).cast("bigint").alias("total_cents"),
        F.count("*").over(wall).cast("bigint").alias("n_days"),
    )
    budget = F.expr("total_cents * day_no div n_days").cast("bigint")
    return spine.select(
        "day",
        "cum_cents",
        budget.alias("budget_cents"),
        (F.col("cum_cents") - budget).cast("bigint").alias("variance_cents"),
        F.round(
            F.col("cum_cents").cast("double")
            / (
                F.col("total_cents").cast("double")
                * F.col("day_no")
                / F.col("n_days")
            ),
            6,
        ).alias("pacing_r"),
    ).orderBy("day")


@query(
    "a346_spearman_corr",
    oracle="""
WITH joined AS (
  SELECT o.o_orderkey,
         CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT) AS x,
         CAST(COUNT(l.l_orderkey) AS BIGINT) AS y
  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, x
), rk AS (
  SELECT
    CAST(rank() OVER (ORDER BY x) * 2
         + COUNT(*) OVER (PARTITION BY x) - 1 AS BIGINT) AS rx2,
    CAST(rank() OVER (ORDER BY y) * 2
         + COUNT(*) OVER (PARTITION BY y) - 1 AS BIGINT) AS ry2
  FROM joined
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx,
         CAST(SUM(ry2) AS BIGINT) AS sy,
         CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
         CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
  FROM rk
)
SELECT n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS spearman_rho_r
FROM sums
""",
    tags=("stats",),
)
def a346_spearman_corr(spark, sf_dir):
    """Spearman rank correlation between order value and line count —
    the robust (monotone, outlier-immune) companion to q232's rolling
    Pearson and q277's Kendall tau. Tie handling is exact and
    integer-only: the average rank of a tie group of size m starting at
    rank r is r + (m-1)/2, so DOUBLED ranks rank()*2 + tiecount - 1 are
    exact BIGINTs, and Pearson's formula on ranks is invariant under
    that *2 scaling. Every moment (Σx, Σx², Σxy) is therefore an exact
    integer — one doubling cast to DOUBLE happens inside the final
    closed form, rounded once at 6dp. Plan: one join+agg for the
    (x, y) pairs, two global rank windows over the ORDER-count table
    (orders-sized, not lineitem-sized), one moment aggregate."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    joined = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy(
            "o_orderkey",
            money("o_totalprice").alias("x"),
        )
        .agg(F.count("l_orderkey").cast("bigint").alias("y"))
    )
    rx2 = (
        F.rank().over(Window.orderBy("x")) * 2
        + F.count("*").over(Window.partitionBy("x"))
        - 1
    ).cast("bigint")
    ry2 = (
        F.rank().over(Window.orderBy("y")) * 2
        + F.count("*").over(Window.partitionBy("y"))
        - 1
    ).cast("bigint")
    rk = joined.select(rx2.alias("rx2"), ry2.alias("ry2"))
    sums = rk.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
    )
    return sums.select(
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
        ).alias("spearman_rho_r"),
    )


_RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
_RRF_TOP = 25


@query(
    "a347_rrf_fusion",
    oracle=f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS spend_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey,
         CAST(rank() OVER (ORDER BY spend_cents DESC, o_custkey)
              AS BIGINT) AS rank_spend,
         CAST(rank() OVER (ORDER BY n_orders DESC, o_custkey)
              AS BIGINT) AS rank_freq
  FROM spend
)
SELECT o_custkey, rank_spend, rank_freq,
       round(1.0 / ({_RRF_K} + rank_spend)
             + 1.0 / ({_RRF_K} + rank_freq), 6) AS rrf_r
FROM ranked
ORDER BY rrf_r DESC, o_custkey
LIMIT {_RRF_TOP}
""",
    tags=("ranking", "retrieval"),
)
def a347_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion — the standard way to combine
    heterogeneous retrieval rankings (BM25 + dense ANN, or here: spend
    rank + frequency rank) without calibrating their scores:
    RRF(d) = Σ 1/(k + rank_i(d)) with k=60. Ranks are integers from
    deterministic tie-broken windows, so the only floats are two exact
    1/(k+r) divisions summed in fixed order and rounded once. One
    aggregate shuffle + two global rank windows over the per-customer
    summary (dimension-sized); at 100 TB the summary is the thing you
    rank — the event log never reaches a global window. Top-25 output
    is bounded at any scale."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("spend_cents"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    ranked = spend.select(
        "o_custkey",
        F.rank()
        .over(Window.orderBy(F.col("spend_cents").desc(), "o_custkey"))
        .cast("bigint")
        .alias("rank_spend"),
        F.rank()
        .over(Window.orderBy(F.col("n_orders").desc(), "o_custkey"))
        .cast("bigint")
        .alias("rank_freq"),
    )
    return (
        ranked.select(
            "o_custkey",
            "rank_spend",
            "rank_freq",
            F.round(
                1.0 / (F.lit(_RRF_K) + F.col("rank_spend"))
                + 1.0 / (F.lit(_RRF_K) + F.col("rank_freq")),
                6,
            ).alias("rrf_r"),
        )
        .orderBy(F.col("rrf_r").desc(), "o_custkey")
        .limit(_RRF_TOP)
    )


@query(
    "a357_label_propagation",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY pa, pb
), edges AS (
  SELECT pa AS node, pb AS nbr, w FROM pairs
  UNION ALL
  SELECT pb AS node, pa AS nbr, w FROM pairs
), votes AS (
  SELECT e.node, p.p_brand AS nbr_brand, CAST(SUM(e.w) AS BIGINT) AS v
  FROM edges e JOIN part p ON p.p_partkey = e.nbr
  GROUP BY e.node, nbr_brand
), winner AS (
  SELECT node, nbr_brand AS new_brand
  FROM (SELECT node, nbr_brand, row_number() OVER (
          PARTITION BY node ORDER BY v DESC, nbr_brand) AS rn
        FROM votes)
  WHERE rn = 1
)
SELECT p.p_brand AS old_brand, w.new_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts
FROM winner w JOIN part p ON p.p_partkey = w.node
GROUP BY old_brand, new_brand
ORDER BY old_brand, new_brand
""",
    tags=("graph", "ml"),
)
def a357_label_propagation(spark, sf_dir):
    """One label-propagation round over the co-purchase graph — the
    cheap community/label smoother (LPA) that complements PageRank
    (q119), connected components (q63), and triangles (q146): each
    part adopts the brand carrying the largest co-occurrence weight
    among its neighbors (deterministic tiebreak: weight DESC, brand
    ASC), and the output is the bounded brand×brand transition matrix.
    Pair generation is the within-order self-join — safe UNCAPPED here
    because TPC-H order size is bounded (≤7 lines), which is exactly
    the condition to check before skipping the q146-style hot-bucket
    cap on real carts. One pair shuffle, one vote shuffle, windows per
    node; every table after the pair stage is graph-sized, not
    fact-sized."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    # Pair build stays the order-key self-join: the posting-list
    # variant (cooccurrence_pairs posting=True) was A/B-measured ~10%
    # slower at sf0.1 (collect_list ObjectHashAggregate beats a hash
    # join only when shuffle bytes dominate), and the join's fan-out is
    # bounded by order size (≤7) so it is not a scale hazard.
    a = lp.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa")
    )
    b = lp.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    # Both edge orientations from ONE pass over pairs (the unionAll
    # re-executed the whole pair pipeline per branch).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("node"), F.col("pb").alias("nbr")),
                F.struct(F.col("pb").alias("node"), F.col("pa").alias("nbr")),
            )
        ).alias("e"),
        "w",
    ).select(F.col("e.node").alias("node"), F.col("e.nbr").alias("nbr"), "w")
    # brands is a projection of `part`, which grows with sf — no forced
    # broadcast hint (a driver OOM risk at the 100 TB design point); AQE
    # picks broadcast at small sf and shuffle-hash beyond its threshold.
    brands = part.select("p_partkey", "p_brand")
    votes = (
        edges.join(brands.withColumnRenamed("p_partkey", "nbr"), "nbr")
        .groupBy("node", F.col("p_brand").alias("nbr_brand"))
        .agg(F.sum("w").cast("bigint").alias("v"))
    )
    winner = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("node").orderBy(
                    F.col("v").desc(), "nbr_brand"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("node", F.col("nbr_brand").alias("new_brand"))
    )
    return (
        winner.join(brands.withColumnRenamed("p_partkey", "node"), "node")
        .groupBy(F.col("p_brand").alias("old_brand"), "new_brand")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        .orderBy("old_brand", "new_brand")
    )


@query(
    "a361_clustering_coefficient",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges
        UNION ALL SELECT v AS node FROM edges)
  GROUP BY node
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
), tcount AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri)
  GROUP BY node
), coef AS (
  SELECT d.node, d.d, COALESCE(t.t, 0) AS t,
         CASE WHEN d.d >= 2 THEN
           CAST(ROUND(2.0 * COALESCE(t.t, 0)
                      / (d.d * (d.d - 1)) * 1000000.0, 0) AS BIGINT)
         END AS c_micro
  FROM deg d LEFT JOIN tcount t ON t.node = d.node
)
SELECT CAST(least(c_micro // 100000, 9) AS BIGINT) AS c_bin,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(t) AS BIGINT) AS triangles_x3,
       round(CAST(SUM(c_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_c_r
FROM coef
WHERE c_micro IS NOT NULL
GROUP BY c_bin
ORDER BY c_bin
""",
    tags=("graph",),
)
def a361_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient distribution over the co-purchase
    graph — C(i) = 2·T(i)/(deg(i)(deg(i)−1)), the "how cliquish is
    each node's neighborhood" number that completes the graph battery
    (global triangles q146, components q63, PageRank q119, LPA a357).
    Triangles are counted per EDGE by intersecting the two endpoints'
    higher-neighbor adjacency arrays (for the canonical u<v edge list,
    N+(x) = {y > x : (x,y) ∈ E}; a triangle a<b<c is found exactly once,
    at its lowest edge (a,b), as c ∈ N+(a)∩N+(b)) — the corner rows for
    per-node counts come out of ONE explode of (u,v,intersection). The
    former two-path + closing-edge join materialized Σ_u C(d⁺(u),2)
    candidate rows through a shuffle (49M rows for 1.2M edges at sf0.1
    — 20k part nodes at avg degree 120 — with GC pressure to match);
    the intersection form's shuffled volume is edge- plus
    triangle-count-sized, and the Σ(d⁺(u)+d⁺(v)) hash-probe work runs
    map-side inside codegen. Adjacency arrays are part-keyed (NOT
    bounded by construction), so the joins carry no broadcast hint —
    AQE broadcasts at audit scale and falls back to shuffle beyond its
    threshold. Degrees come from the undirected edge list. Per-node
    coefficients are micro-fixed BEFORE the histogram aggregate, so bin
    membership and the bin means hash exactly. Output is a fixed 10-bin
    distribution — bounded at any graph size. Pair generation is
    order-bounded (≤7 lines/order, see a357); real carts need the q146
    hot-bucket cap first."""
    li = table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)  # reused by deg + adj + the edge probe
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    adj = edges.groupBy("u").agg(F.collect_list("v").alias("nu"))
    inter = (
        edges.join(adj, "u")
        .join(
            adj.select(F.col("u").alias("v"), F.col("nu").alias("nv")),
            "v",
            "left",
        )
        .select(
            "u",
            "v",
            # slice(nu,1,0) = typed empty array for max-id endpoints
            F.array_intersect(
                "nu", F.coalesce("nv", F.slice("nu", 1, 0))
            ).alias("cw"),
        )
    )
    _tsz = F.size("cw").cast("bigint")
    tcount = (
        inter.select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("u").alias("node"), _tsz.alias("t")
                        ),
                        F.struct(
                            F.col("v").alias("node"), _tsz.alias("t")
                        ),
                    ),
                    F.transform(
                        "cw",
                        lambda w: F.struct(
                            w.alias("node"),
                            F.lit(1).cast("bigint").alias("t"),
                        ),
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.node").alias("node"))
        .agg(F.sum("e.t").cast("bigint").alias("t"))
    )
    coef = deg.join(tcount, "node", "left").select(
        "node",
        "d",
        F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("t"),
        F.when(
            F.col("d") >= 2,
            money(
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ),
        ).alias("c_micro"),
    )
    return (
        coef.filter(F.col("c_micro").isNotNull())
        .groupBy(
            F.least(F.expr("c_micro div 100000"), F.lit(9))
            .cast("bigint")
            .alias("c_bin")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("t").cast("bigint").alias("triangles_x3"),
            F.round(
                F.sum("c_micro").cast("double") / 1e6 / F.count("*"), 6
            ).alias("avg_c_r"),
        )
        .orderBy("c_bin")
    )


@query(
    "a372_water_filling",
    oracle="""
WITH demand AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS d
  FROM orders GROUP BY o_custkey
), tot AS (
  SELECT CAST(SUM(d) AS BIGINT) AS total,
         CAST(SUM(d) // 10 AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM demand
), ranked AS (
  SELECT d.d, t.b, t.n, t.total,
         CAST(row_number() OVER (ORDER BY d.d, d.o_custkey) AS BIGINT)
           AS i,
         CAST(SUM(d.d) OVER (ORDER BY d.d, d.o_custkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pre
  FROM demand d CROSS JOIN tot t
), feasible AS (
  SELECT * FROM ranked WHERE pre + (n - i) * d <= b
), k AS (
  SELECT COALESCE(MAX(i), 0) AS k,
         COALESCE(MAX(pre), 0) AS pre_k
  FROM (SELECT i, pre FROM feasible
        ORDER BY i DESC LIMIT 1)
)
SELECT t.n, t.b AS budget_cents,
       CAST(k.k AS BIGINT) AS n_fully_funded,
       round((CAST(t.b AS DOUBLE) - k.pre_k) / (t.n - k.k), 6)
         AS cap_cents_r,
       round(CAST(t.b AS DOUBLE) / t.total, 6) AS budget_frac_r
FROM tot t CROSS JOIN k
""",
    tags=("allocation", "optimization"),
)
def a372_water_filling(spark, sf_dir):
    """Water-filling budget allocation — distribute a budget (10% of
    total demand) across customers as allocation_i = min(dᵢ, c) with
    the cap c chosen so allocations exactly exhaust the budget: the
    canonical fair-division/rate-limit solution (same math as
    bandwidth sharing and token-bucket provisioning). The textbook
    iterative algorithm is replaced by the closed sorted form: with
    demands sorted ascending and exact prefix sums, the fully-funded
    count k is the largest i whose demand could be met under a cap at
    its own level (preᵢ + (n−i)·dᵢ ≤ B), and c = (B − pre_k)/(n−k) —
    one sort window over the per-customer summary, one argmax, one
    readout. Everything before the final division is exact BIGINT, so
    the hash gate is deterministic; by construction
    pre_k + (n−k)·c = B exactly."""
    o = table(spark, sf_dir, "orders")
    demand = o.groupBy("o_custkey").agg(
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("d")
    )
    tot = demand.agg(
        F.sum("d").cast("bigint").alias("total"),
        F.expr("CAST(sum(d) div 10 AS BIGINT)").alias("b"),
        F.count("*").cast("bigint").alias("n"),
    ).localCheckpoint(eager=False)  # 1 row, referenced by ranked + readout
    wsort = Window.orderBy("d", "o_custkey")
    ranked = demand.crossJoin(F.broadcast(tot)).select(
        "d",
        "b",
        "n",
        F.row_number().over(wsort).cast("bigint").alias("i"),
        F.sum("d")
        .over(wsort.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("pre"),
    )
    feasible = ranked.filter(
        F.col("pre") + (F.col("n") - F.col("i")) * F.col("d") <= F.col("b")
    )
    k = feasible.orderBy(F.col("i").desc()).limit(1).select(
        F.col("i").alias("k"), F.col("pre").alias("pre_k")
    )
    # COALESCE to 0 when nothing is fully fundable (empty feasible set)
    k0 = k.unionAll(
        tot.select(F.lit(0).cast("bigint"), F.lit(0).cast("bigint"))
    ).orderBy(F.col("k").desc()).limit(1)
    return tot.crossJoin(F.broadcast(k0)).select(
        "n",
        F.col("b").alias("budget_cents"),
        F.col("k").alias("n_fully_funded"),
        F.round(
            (F.col("b").cast("double") - F.col("pre_k"))
            / (F.col("n") - F.col("k")),
            6,
        ).alias("cap_cents_r"),
        F.round(F.col("b").cast("double") / F.col("total"), 6).alias(
            "budget_frac_r"
        ),
    )


@query(
    "a385_markov_entropy_rate",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
), trans AS (
  SELECT event_type AS s, nxt AS t, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL GROUP BY s, t
), row_tot AS (
  SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM trans GROUP BY s
), n_all AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM trans
), terms AS (
  SELECT tr.s,
         CAST(ROUND(-(CAST(tr.c AS DOUBLE) / rt.cs)
                    * ln(CAST(tr.c AS DOUBLE) / rt.cs)
                    * 1000000000.0, 0) AS BIGINT) AS h_nano,
         rt.cs, na.n
  FROM trans tr
  JOIN row_tot rt ON rt.s = tr.s
  CROSS JOIN n_all na
), per_state AS (
  SELECT s, cs, n,
         CAST(SUM(h_nano) AS BIGINT) AS h_state_nano
  FROM terms GROUP BY s, cs, n
)
SELECT s AS state,
       cs AS n_transitions,
       round(CAST(h_state_nano AS DOUBLE) / 1000000000.0, 6)
         AS h_state_r,
       round(CAST(cs AS DOUBLE) / n
             * (CAST(h_state_nano AS DOUBLE) / 1000000000.0), 6)
         AS h_weighted_r
FROM per_state
ORDER BY state
""",
    tags=("analytics", "markov"),
)
def a385_markov_entropy_rate(spark, sf_dir):
    """Markov entropy rate by state — how PREDICTABLE is the next
    event given the current one: H(T|S=s) = −Σ p(t|s)·ln p(t|s) per
    state, plus its stationary-weighted contribution p(s)·H(T|S=s)
    (summing the last column gives the chain's entropy rate — the
    number that separates scripted bot traffic, near zero, from
    organic browsing). Builds on q111's transition counts: one
    lead-window shuffle on the user key, then everything runs on the
    |states|² transition table with the q121 discipline (exact counts
    inside ln, nano-fixed terms before sums). Complements q284's
    next-event ACCURACY with the full-distribution uncertainty."""
    ev = table(spark, sf_dir, "events")
    seq = ev.select(
        "event_type",
        F.lead("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("s"), F.col("nxt").alias("t")
    ).agg(F.count("*").cast("bigint").alias("c")).localCheckpoint(
        eager=False
    )  # |states|^2 table feeds row totals + grand total + terms
    row_tot = trans.groupBy("s").agg(F.sum("c").cast("bigint").alias("cs"))
    n_all = trans.agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        trans.join(F.broadcast(row_tot), "s")
        .crossJoin(F.broadcast(n_all))
        .select(
            "s",
            "cs",
            "n",
            money(
                -(F.col("c").cast("double") / F.col("cs"))
                * F.log(F.col("c").cast("double") / F.col("cs")),
                9,
            )
            .alias("h_nano"),
        )
    )
    per_state = terms.groupBy("s", "cs", "n").agg(
        F.sum("h_nano").cast("bigint").alias("h_state_nano")
    )
    return per_state.select(
        F.col("s").alias("state"),
        F.col("cs").alias("n_transitions"),
        F.round(
            F.col("h_state_nano").cast("double") / 1e9, 6
        ).alias("h_state_r"),
        F.round(
            F.col("cs").cast("double")
            / F.col("n")
            * (F.col("h_state_nano").cast("double") / 1e9),
            6,
        ).alias("h_weighted_r"),
    ).orderBy("state")


@query(
    "a387_partial_correlation",
    oracle="""
WITH per_order AS (
  SELECT o.o_orderkey,
         CAST(ROUND(o.o_totalprice, 0) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y,
         CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS z
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, x
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(z * z) AS BIGINT) AS szz,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * z) AS BIGINT) AS sxz,
         CAST(SUM(y * z) AS BIGINT) AS syz
  FROM per_order
), r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           AS rxy,
         (CAST(n AS DOUBLE) * sxz - CAST(sx AS DOUBLE) * sz)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
           AS rxz,
         (CAST(n AS DOUBLE) * syz - CAST(sy AS DOUBLE) * sz)
         / (sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
            * sqrt(CAST(n AS DOUBLE) * szz - CAST(sz AS DOUBLE) * sz))
           AS ryz
  FROM m
)
SELECT n,
       round(rxy, 6) AS r_price_lines_r,
       round(rxz, 6) AS r_price_supps_r,
       round((rxz - rxy * ryz)
             / sqrt((1.0 - rxy * rxy) * (1.0 - ryz * ryz)), 6)
         AS partial_r_price_supps_given_lines_r
FROM r
""",
    tags=("stats",),
)
def a387_partial_correlation(spark, sf_dir):
    """First-order partial correlation — does supplier diversity relate
    to order value BEYOND what basket size already explains?
    r_xz·y = (r_xz − r_xy·r_yz)/√((1−r_xy²)(1−r_yz²)), the simplest
    confounder control and the gateway to any regression-adjusted
    readout (q258's closed-form regression is the k-feature
    generalization). All nine raw moments are exact BIGINTs from ONE
    join+aggregate pass; the three pairwise r's and the partial are
    pure double expressions over them, written identically in both
    engines. Single summary row at any scale."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.round(F.col("o_totalprice"), 0).cast("bigint").alias("x"),
        )
        .agg(
            F.count("*").cast("bigint").alias("y"),
            F.count_distinct("l_suppkey").cast("bigint").alias("z"),
        )
    )
    m = per_order.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("bigint").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("bigint").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("bigint").alias("syz"),
    )

    def pearson(sab, sa, sb, saa, sbb):
        return (
            F.col("n").cast("double") * F.col(sab)
            - F.col(sa).cast("double") * F.col(sb)
        ) / (
            F.sqrt(
                F.col("n").cast("double") * F.col(saa)
                - F.col(sa).cast("double") * F.col(sa)
            )
            * F.sqrt(
                F.col("n").cast("double") * F.col(sbb)
                - F.col(sb).cast("double") * F.col(sb)
            )
        )

    rxy = pearson("sxy", "sx", "sy", "sxx", "syy")
    rxz = pearson("sxz", "sx", "sz", "sxx", "szz")
    ryz = pearson("syz", "sy", "sz", "syy", "szz")
    return m.select(
        "n",
        F.round(rxy, 6).alias("r_price_lines_r"),
        F.round(rxz, 6).alias("r_price_supps_r"),
        F.round(
            (rxz - rxy * ryz)
            / F.sqrt(
                (F.lit(1.0) - rxy * rxy) * (F.lit(1.0) - ryz * ryz)
            ),
            6,
        ).alias("partial_r_price_supps_given_lines_r"),
    )


@query(
    "a397_abc_classification",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, cents,
         CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(cents) OVER () AS BIGINT) AS total
  FROM rev
), classed AS (
  SELECT l_partkey, cents,
         CASE WHEN CAST(cum AS DOUBLE) / total <= 0.8 THEN 'A'
              WHEN CAST(cum AS DOUBLE) / total <= 0.95 THEN 'B'
              ELSE 'C' END AS abc
  FROM ranked
)
SELECT abc,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS cents,
       round(CAST(SUM(cents) AS DOUBLE)
             / (SELECT CAST(SUM(cents) AS BIGINT) FROM rev), 6)
         AS revenue_share_r
FROM classed
GROUP BY abc
ORDER BY abc
""",
    tags=("analytics", "inventory"),
)
def a397_abc_classification(spark, sf_dir):
    """ABC (Pareto) classification — parts bucketed by cumulative
    revenue share (A ≤ 80%, B ≤ 95%, C the tail): the inventory-
    management operationalization of q299's Lorenz curve, turning the
    concentration CURVE into the three action classes planners
    actually use (count A-parts tightly, spot-check B, bulk-handle
    C). The cumulative window runs over the per-part SUMMARY
    (part-dimension sized, deterministic cents-then-key order); class
    boundaries compare exact integer cumsums against the exact total.
    Bounded 3-row output."""
    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(money("l_extendedprice"))
        .cast("bigint")
        .alias("cents")
    ).localCheckpoint(eager=False)  # summary feeds window + share total
    wcum = Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "l_partkey",
        "cents",
        F.sum("cents").over(wcum).cast("bigint").alias("cum"),
        F.sum("cents").over(Window.partitionBy()).cast("bigint").alias(
            "total"
        ),
    )
    share = F.col("cum").cast("double") / F.col("total")
    classed = ranked.select(
        "cents",
        F.when(share <= 0.8, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
        "total",
    )
    return (
        classed.groupBy("abc", "total")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            "abc",
            "n_parts",
            "cents",
            F.round(
                F.col("cents").cast("double") / F.col("total"), 6
            ).alias("revenue_share_r"),
        )
        .orderBy("abc")
    )


@query(
    "a403_l_moments",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST(ROUND(o_totalprice / 1000.0, 0) AS BIGINT) AS x
  FROM orders
), ranked AS (
  SELECT grp, x,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY x) AS BIGINT)
           AS i,
         CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM base
), sums AS (
  SELECT grp, n,
         CAST(SUM(x) AS BIGINT) AS s0,
         CAST(SUM((i - 1) * x) AS BIGINT) AS s1,
         CAST(SUM((i - 1) * (i - 2) * x) AS BIGINT) AS s2
  FROM ranked GROUP BY grp, n
), pwm AS (
  SELECT grp, n,
         CAST(s0 AS DOUBLE) / n AS b0,
         CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) AS b1,
         CAST(s2 AS DOUBLE)
           / (CAST(n AS DOUBLE) * (n - 1) * (n - 2)) AS b2
  FROM sums
)
SELECT grp, n,
       round(b0, 6) AS l1_r,
       round(2.0 * b1 - b0, 6) AS l2_r,
       round((2.0 * b1 - b0) / b0, 6) AS l_cv_r,
       round((6.0 * b2 - 6.0 * b1 + b0) / (2.0 * b1 - b0), 6)
         AS l_skew_r
FROM pwm
ORDER BY grp
""",
    tags=("stats", "robust"),
)
def a403_l_moments(spark, sf_dir):
    """L-moments (λ₁, λ₂, L-CV, L-skewness) per priority — the
    order-statistics moment system hydrology standardized on because
    every L-moment is LINEAR in the data: they exist whenever the
    mean does, and a single outlier moves them boundedly where
    classical skewness (q170, cubed deviations) explodes. Computed
    from probability-weighted moments b_r with exact BIGINT
    numerators Σ(i−1)x and Σ(i−1)(i−2)x (deterministic ranks; equal
    values make the weighted sums tie-order invariant), one rank
    window per group, one moment aggregate. Kilodollar units keep the
    (i²·x) sums inside BIGINT through ~sf1 — beyond that, switch the
    two weighted sums to doubles (the estimator is already a ratio)."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") / 1000.0, 0).cast("bigint").alias("x"),
    )
    wr = Window.partitionBy("grp").orderBy("x")
    ranked = base.select(
        "grp",
        "x",
        F.row_number().over(wr).cast("bigint").alias("i"),
        F.count("*").over(Window.partitionBy("grp")).cast("bigint").alias("n"),
    )
    sums = ranked.groupBy("grp", "n").agg(
        F.sum("x").cast("bigint").alias("s0"),
        F.sum((F.col("i") - 1) * F.col("x")).cast("bigint").alias("s1"),
        F.sum((F.col("i") - 1) * (F.col("i") - 2) * F.col("x"))
        .cast("bigint")
        .alias("s2"),
    )
    b0 = F.col("s0").cast("double") / F.col("n")
    b1 = F.col("s1").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    b2 = F.col("s2").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1) * (F.col("n") - 2)
    )
    l2 = 2.0 * b1 - b0
    return sums.select(
        "grp",
        "n",
        F.round(b0, 6).alias("l1_r"),
        F.round(l2, 6).alias("l2_r"),
        F.round(l2 / b0, 6).alias("l_cv_r"),
        F.round((6.0 * b2 - 6.0 * b1 + b0) / l2, 6).alias("l_skew_r"),
    ).orderBy("grp")


@query(
    "a407_simpsons_paradox",
    oracle="""
WITH base AS (
  SELECT c.c_mktsegment AS seg,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS grp,
         CASE WHEN CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)
                   > 20000000 THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), per_seg AS (
  SELECT seg,
         CAST(SUM(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT) AS k1,
         CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT) AS k0,
         CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM base GROUP BY seg
), pooled AS (
  SELECT CAST(SUM(k1) AS BIGINT) AS k1, CAST(SUM(n1) AS BIGINT) AS n1,
         CAST(SUM(k0) AS BIGINT) AS k0, CAST(SUM(n0) AS BIGINT) AS n0
  FROM per_seg
)
SELECT s.seg,
       round(CAST(s.k1 AS DOUBLE) / s.n1
             - CAST(s.k0 AS DOUBLE) / s.n0, 6) AS seg_delta_r,
       round(CAST(p.k1 AS DOUBLE) / p.n1
             - CAST(p.k0 AS DOUBLE) / p.n0, 6) AS pooled_delta_r,
       CAST(CASE WHEN sign(CAST(s.k1 AS DOUBLE) / s.n1
                           - CAST(s.k0 AS DOUBLE) / s.n0)
                      * sign(CAST(p.k1 AS DOUBLE) / p.n1
                             - CAST(p.k0 AS DOUBLE) / p.n0) < 0
                 THEN 1 ELSE 0 END AS INT) AS sign_reversal
FROM per_seg s CROSS JOIN pooled p
ORDER BY s.seg
""",
    tags=("analytics", "stats"),
)
def a407_simpsons_paradox(spark, sf_dir):
    """Simpson's-paradox detector — per-segment treatment effects next
    to the pooled effect, with an explicit sign-reversal flag: the
    aggregation foot-gun audit (a pooled "urgent orders convert
    better" can invert inside every segment when segment mix is
    confounded — q322's shift-share quantifies the mix, this flags
    the reversal). One join+aggregate builds the segment 2×2 counts;
    the pooled row is their exact integer sum cross-joined back; the
    deltas and sign product are identical double expressions.
    Segment-count-sized output."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    base = o.join(c, c.c_custkey == o.o_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("grp"),
        (money("o_totalprice") > 20_000_000)
        .cast("int")
        .alias("y"),
    )
    per_seg = base.groupBy("seg").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("k1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("k0"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
    ).localCheckpoint(eager=False)  # feeds the pooled sum + readout
    pooled = per_seg.agg(
        F.sum("k1").cast("bigint").alias("pk1"),
        F.sum("n1").cast("bigint").alias("pn1"),
        F.sum("k0").cast("bigint").alias("pk0"),
        F.sum("n0").cast("bigint").alias("pn0"),
    )
    seg_delta = (
        F.col("k1").cast("double") / F.col("n1")
        - F.col("k0").cast("double") / F.col("n0")
    )
    pooled_delta = (
        F.col("pk1").cast("double") / F.col("pn1")
        - F.col("pk0").cast("double") / F.col("pn0")
    )
    return (
        per_seg.crossJoin(F.broadcast(pooled))
        .select(
            "seg",
            F.round(seg_delta, 6).alias("seg_delta_r"),
            F.round(pooled_delta, 6).alias("pooled_delta_r"),
            F.when(
                F.signum(seg_delta) * F.signum(pooled_delta) < 0, 1
            )
            .otherwise(0)
            .cast("int")
            .alias("sign_reversal"),
        )
        .orderBy("seg")
    )


@query(
    "a410_theil_decomposition",
    oracle="""
WITH cust AS (
  SELECT o.o_custkey, c.c_mktsegment AS seg,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS x
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY o.o_custkey, seg
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
  FROM cust
), terms AS (
  SELECT cu.seg,
         CAST(ROUND((CAST(cu.x AS DOUBLE) * t.n / t.s)
                    * ln(CAST(cu.x AS DOUBLE) * t.n / t.s)
                    * 1000000000.0, 0) AS BIGINT) AS t_nano,
         cu.x
  FROM cust cu CROSS JOIN tot t
), per_seg AS (
  SELECT seg,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS BIGINT) AS s_g,
         CAST(SUM(t_nano) AS BIGINT) AS tsum_nano
  FROM terms GROUP BY seg
), within AS (
  SELECT p.seg, p.n_g, p.s_g,
         CAST(SUM(CAST(ROUND((CAST(cu.x AS DOUBLE) * p.n_g / p.s_g)
                    * ln(CAST(cu.x AS DOUBLE) * p.n_g / p.s_g)
                    * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS w_nano
  FROM cust cu JOIN per_seg p ON p.seg = cu.seg
  GROUP BY p.seg, p.n_g, p.s_g
)
SELECT w.seg, w.n_g,
       round(CAST(w.s_g AS DOUBLE) / t.s, 6) AS revenue_share_r,
       round(CAST(w.w_nano AS DOUBLE) / 1000000000.0 / w.n_g, 6)
         AS theil_within_r,
       round((CAST(w.s_g AS DOUBLE) / t.s)
             * ln((CAST(w.s_g AS DOUBLE) * t.n)
                  / (CAST(w.n_g AS DOUBLE) * t.s)), 6)
         AS between_term_r,
       round(CAST(p.tsum_nano AS DOUBLE) / 1000000000.0 / t.n, 6)
         AS theil_total_contrib_r
FROM within w
JOIN per_seg p ON p.seg = w.seg
CROSS JOIN tot t
ORDER BY w.seg
""",
    tags=("analytics", "inequality"),
)
def a410_theil_decomposition(spark, sf_dir):
    """Theil T inequality with its EXACT within/between decomposition
    by market segment — the property that makes Theil the governance
    inequality measure over Gini (q299/q326 show concentration; only
    Theil answers "is the inequality INSIDE segments or BETWEEN
    them", and the two parts sum to the total by identity:
    T = Σ s_g·T_g + Σ s_g·ln(μ_g/μ)). Every ln argument is an exact
    integer rational (x·N/S — the q121 discipline), each term
    nano-fixed before its sum, so within-terms, between-terms, and
    total contributions all hash exactly. One join+aggregate for the
    per-customer revenue, one cross-join of the 2-value total, one
    segment rollup; segment-count-sized output."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    cust = (
        o.join(c, c.c_custkey == o.o_custkey)
        .groupBy("o_custkey", F.col("c_mktsegment").alias("seg"))
        .agg(F.sum(money("o_totalprice")).cast("bigint").alias("x"))
        .localCheckpoint(eager=False)  # feeds totals + terms + within
    )
    tot = cust.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )

    def nano_term(n_col, s_col):
        ratio = F.col("x").cast("double") * F.col(n_col) / F.col(s_col)
        return money(ratio * F.log(ratio), 9)

    terms = cust.crossJoin(F.broadcast(tot)).select(
        "seg", "x", nano_term("n", "s").alias("t_nano")
    )
    per_seg = terms.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("x").cast("bigint").alias("s_g"),
        F.sum("t_nano").cast("bigint").alias("tsum_nano"),
    ).localCheckpoint(eager=False)  # feeds the within join + readout
    within = (
        cust.join(F.broadcast(per_seg), "seg")
        .select("seg", "n_g", "s_g", nano_term("n_g", "s_g").alias("w"))
        .groupBy("seg", "n_g", "s_g")
        .agg(F.sum("w").cast("bigint").alias("w_nano"))
    )
    return (
        within.join(
            F.broadcast(per_seg.select("seg", "tsum_nano")), "seg"
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "n_g",
            F.round(
                F.col("s_g").cast("double") / F.col("s"), 6
            ).alias("revenue_share_r"),
            F.round(
                F.col("w_nano").cast("double") / 1e9 / F.col("n_g"), 6
            ).alias("theil_within_r"),
            F.round(
                (F.col("s_g").cast("double") / F.col("s"))
                * F.log(
                    (F.col("s_g").cast("double") * F.col("n"))
                    / (F.col("n_g").cast("double") * F.col("s"))
                ),
                6,
            ).alias("between_term_r"),
            F.round(
                F.col("tsum_nano").cast("double") / 1e9 / F.col("n"), 6
            ).alias("theil_total_contrib_r"),
        )
        .orderBy("seg")
    )


@query(
    "a557_degree_assortativity",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges
        UNION ALL SELECT v AS node FROM edges)
  GROUP BY node
), ed AS (
  SELECT du.d AS dj, dv.d AS dk
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(dj * dk) AS BIGINT) AS s_jk,
         CAST(SUM(dj + dk) AS BIGINT) AS s_sum,
         CAST(SUM(dj * dj + dk * dk) AS BIGINT) AS s_sq
  FROM ed
)
SELECT m AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       round((CAST(s_jk AS DOUBLE) / m
              - (CAST(s_sum AS DOUBLE) / (2.0 * m))
                * (CAST(s_sum AS DOUBLE) / (2.0 * m)))
             / (CAST(s_sq AS DOUBLE) / (2.0 * m)
                - (CAST(s_sum AS DOUBLE) / (2.0 * m))
                  * (CAST(s_sum AS DOUBLE) / (2.0 * m))),
             6) AS assortativity_r
FROM sums
""",
    tags=("graph", "analytics"),
)
def a557_degree_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph — Newman's r, the
    Pearson correlation of endpoint degrees over edges, completing the
    graph-science battery (PageRank q119, components q63, triangles
    q146, LPA a357, clustering a361): r > 0 means hubs buy with hubs
    (a single dense community — LSH-style blocking won't split it),
    r < 0 means hub-leaf structure (degree-based partitioning works).
    Plan: the within-order equi-join pair stream (never part×part),
    one degree aggregate, two degree lookups back onto edges, then
    FOUR exact integer sums (Σjk, Σ(j+k), Σ(j²+k²), M) feed the whole
    correlation as one closed-form double — no variance accumulated in
    floating point, no ordering dependence. Everything after the pair
    stage is graph-sized."""
    li = table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
        .localCheckpoint(eager=False)
    )
    ed = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "dj")
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dk")), "v"
        )
    )
    sums = ed.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("dj") * F.col("dk")).cast("bigint").alias("s_jk"),
        F.sum(F.col("dj") + F.col("dk")).cast("bigint").alias("s_sum"),
        F.sum(F.col("dj") * F.col("dj") + F.col("dk") * F.col("dk"))
        .cast("bigint")
        .alias("s_sq"),
    )
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    mean = F.col("s_sum").cast("double") / (2.0 * F.col("m"))
    r = (F.col("s_jk").cast("double") / F.col("m") - mean * mean) / (
        F.col("s_sq").cast("double") / (2.0 * F.col("m")) - mean * mean
    )
    return (
        sums.join(F.broadcast(n_nodes))
        .select(
            F.col("m").alias("n_edges"),
            "n_nodes",
            F.round(r, 6).alias("assortativity_r"),
        )
    )


@query(
    "a558_link_prediction",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), adj AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
), two_path AS (
  SELECT a.node AS u, b.node AS v, a.nbr AS z
  FROM adj a JOIN adj b ON a.nbr = b.nbr AND b.node <> a.node
  WHERE a.node < 100
), scored AS (
  SELECT t.u, t.v,
         CAST(COUNT(*) AS BIGINT) AS common_nbrs,
         CAST(SUM(CAST(ROUND(1000000.0 / dz.d, 0) AS BIGINT)) AS BIGINT)
           AS ra_micro
  FROM two_path t JOIN deg dz ON dz.node = t.z
  GROUP BY t.u, t.v
), non_edges AS (
  SELECT s.u, s.v, s.common_nbrs, s.ra_micro
  FROM scored s
  LEFT JOIN edges e ON e.u = LEAST(s.u, s.v) AND e.v = GREATEST(s.u, s.v)
  WHERE e.u IS NULL
)
SELECT u, v, common_nbrs, ra_micro
FROM non_edges
ORDER BY ra_micro DESC, u, v
LIMIT 30
""",
    tags=("graph", "ml"),
)
def a558_link_prediction(spark, sf_dir):
    """Link prediction over the co-purchase graph: common-neighbor
    count and the Resource-Allocation index Σ_z 1/deg(z) for candidate
    (non-adjacent) pairs — the classic graph-completion scorer, and
    the missing recommender next to a357's LPA (which labels nodes;
    this proposes EDGES). RA beats Adamic-Adar here by design: 1/deg
    is an exact rational, so each term micro-fixes to a BIGINT with no
    runtime logarithm (cross-engine libm being the one float source
    this repo bans), and the per-pair sum is order-independent.
    Candidates come from the two-path equi-join on the shared
    neighbor seeded by a FIXED 100-node query panel (the q198
    query_max_id discipline: the co-purchase graph is DENSE — median
    degree >100 — so unseeded two-paths are Σdeg², quadratic-ish in
    the graph; the panel makes the volume panel×deg², constant in sf),
    scored pairs anti-join the canonical (least, greatest) edge set to
    keep only NEW links, top-30 by RA."""
    li = table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    ).localCheckpoint(eager=False)
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    ta = adj.filter(F.col("node") < 100).select(
        F.col("node").alias("u"), F.col("nbr").alias("z")
    )
    tb = adj.select(F.col("node").alias("v"), F.col("nbr").alias("z"))
    two_path = ta.join(tb, "z").filter(F.col("v") != F.col("u"))
    scored = (
        two_path.join(deg.withColumnRenamed("node", "z"), "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("bigint").alias("common_nbrs"),
            F.sum(F.round(1000000.0 / F.col("d"), 0).cast("bigint"))
            .cast("bigint")
            .alias("ra_micro"),
        )
    )
    non_edges = scored.join(
        edges.select(
            F.col("u").alias("eu"), F.col("v").alias("ev")
        ),
        (F.least("u", "v") == F.col("eu"))
        & (F.greatest("u", "v") == F.col("ev")),
        "left_anti",
    )
    return non_edges.select(
        "u", "v", "common_nbrs", "ra_micro"
    ).orderBy(F.col("ra_micro").desc(), "u", "v").limit(30)


@query(
    "a564_kendall_tau_b",
    oracle="""
WITH samp AS (
  SELECT c_custkey AS id,
         CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) AS x
  FROM customer WHERE c_custkey < 200
), spend AS (
  SELECT o_custkey AS id,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS y
  FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
), pts AS (
  SELECT s.id, s.x, COALESCE(sp.y, 0) AS y
  FROM samp s LEFT JOIN spend sp ON sp.id = s.id
), pairs AS (
  SELECT CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         CAST(SUM(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS nd
  FROM pts a JOIN pts b ON a.id < b.id
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pts
), tx AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) / 2), 0) AS BIGINT) AS n1
  FROM (SELECT COUNT(*) AS t FROM pts GROUP BY x HAVING COUNT(*) > 1)
), ty AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) / 2), 0) AS BIGINT) AS n2
  FROM (SELECT COUNT(*) AS t FROM pts GROUP BY y HAVING COUNT(*) > 1)
)
SELECT nn.n, p.nc, p.nd, tx.n1 AS ties_x, ty.n2 AS ties_y,
       round((CAST(p.nc AS DOUBLE) - p.nd)
             / sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2.0 - tx.n1)
                    * (CAST(nn.n AS DOUBLE) * (nn.n - 1) / 2.0 - ty.n2)),
             6) AS tau_b_r
FROM pairs p CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty
""",
    tags=("analytics", "stats"),
)
def a564_kendall_tau_b(spark, sf_dir):
    """Kendall tau-b rank correlation between account balance and
    realized order spend over a FIXED 200-customer panel — the
    tie-corrected concordance twin of Spearman (a346): Spearman
    correlates rank values, tau counts pairwise order agreements, and
    tau-b's denominator discounts ties on either margin. The panel cap
    (c_custkey < 200, constant at every sf) is the design point: the
    O(n²) pair join is exact because it is BOUNDED — 19,900 pairs
    forever — while both inputs are corpus-scale aggregates (spend
    folds orders with one map-side-combined sum before any pair
    work). Concordant/discordant counts and both tie corrections are
    exact BIGINTs; tau-b is one closed-form double at the end.
    Customers with no orders enter at spend 0 (a real tie mass the
    correction must handle, not a dropped row)."""
    cents = lambda c: money(F.col(c))  # noqa: E731
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    samp = cust.filter(F.col("c_custkey") < 200).select(
        F.col("c_custkey").alias("id"), cents("c_acctbal").alias("x")
    )
    spend = (
        orders.filter(F.col("o_custkey") < 200)
        .groupBy(F.col("o_custkey").alias("id"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("y"))
    )
    # limit(200) is a no-op on the c_custkey<200 panel but pins the
    # GlobalLimit that proves the broadcast side is constant-size at
    # any sf (tools/lint_broadcast.py contract, the q95 pattern)
    pts = (
        samp.join(spend, "id", "left")
        .select("id", "x", F.coalesce("y", F.lit(0)).alias("y"))
        .limit(200)
        .localCheckpoint(eager=False)
    )
    a = pts.select(
        F.col("id").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = pts.select(
        F.col("id").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = (
        a.join(F.broadcast(b), F.col("ia") < F.col("ib"))
        .agg(
            F.sum((prod > 0).cast("int")).cast("bigint").alias("nc"),
            F.sum((prod < 0).cast("int")).cast("bigint").alias("nd"),
        )
    )
    nn = pts.agg(F.count("*").cast("bigint").alias("n"))
    tx = (
        pts.groupBy("x")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0))
            .cast("bigint")
            .alias("ties_x")
        )
    )
    ty = (
        pts.groupBy("y")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0))
            .cast("bigint")
            .alias("ties_y")
        )
    )
    half = F.col("n").cast("double") * (F.col("n") - 1) / 2.0
    tau = (F.col("nc").cast("double") - F.col("nd")) / F.sqrt(
        (half - F.col("ties_x")) * (half - F.col("ties_y"))
    )
    return (
        pairs.join(F.broadcast(nn))
        .join(F.broadcast(tx))
        .join(F.broadcast(ty))
        .select(
            "n", "nc", "nd", "ties_x", "ties_y",
            F.round(tau, 6).alias("tau_b_r"),
        )
    )


_KCORE_K = 4


@query(
    "a566_kcore_peel",
    oracle=f"""
WITH lp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg0 AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges0 UNION ALL SELECT v AS node FROM edges0)
  GROUP BY node
), keep1 AS MATERIALIZED (
  SELECT node FROM deg0 WHERE d >= {_KCORE_K}
), edges1 AS MATERIALIZED (
  SELECT e.u, e.v FROM edges0 e
  JOIN keep1 ku ON ku.node = e.u
  JOIN keep1 kv ON kv.node = e.v
), deg1 AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges1 UNION ALL SELECT v AS node FROM edges1)
  GROUP BY node
), keep2 AS MATERIALIZED (
  SELECT node FROM deg1 WHERE d >= {_KCORE_K}
), edges2 AS MATERIALIZED (
  SELECT e.u, e.v FROM edges1 e
  JOIN keep2 ku ON ku.node = e.u
  JOIN keep2 kv ON kv.node = e.v
)
SELECT 0 AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM deg0) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges0) AS n_edges
UNION ALL
SELECT 1, (SELECT CAST(COUNT(*) AS BIGINT) FROM keep1),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges1)
UNION ALL
SELECT 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM keep2),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges2)
ORDER BY round
""",
    tags=("graph", "analytics"),
)
def a566_kcore_peel(spark, sf_dir):
    """Two peel rounds toward the 4-core of the co-purchase
    graph — the degeneracy-ordering primitive behind community
    detection and dense-subgraph mining, and the graph-side analogue
    of the dedup caps: peeling removes low-degree periphery so the
    expensive downstream algorithms run on the dense core only. Each
    round is a degree aggregate + two semi-join-shaped filters of the
    edge list (never rebuilt from the fact table — the base pair
    stream is checkpointed once and reused by every round), and the
    per-round (nodes, edges) trajectory is the convergence telemetry a
    scheduler would watch. Fixed two rounds keeps the plan static; the
    full fixpoint is this stage iterated driver-side, exactly like
    q249's power iteration."""
    li = table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges0 = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=False)
    )

    def degrees(edges):
        return (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("d"))
        )

    def peel(edges, deg):
        keep = deg.filter(F.col("d") >= _KCORE_K).select("node")
        kept = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        return keep, kept

    deg0 = degrees(edges0).localCheckpoint(eager=False)
    keep1, edges1 = peel(edges0, deg0)
    deg1 = degrees(edges1).localCheckpoint(eager=False)
    keep2, edges2 = peel(edges1, deg1)

    def row(rnd, nodes_df, edges_df):
        n = nodes_df.agg(F.count("*").cast("bigint").alias("n_nodes"))
        e = edges_df.agg(F.count("*").cast("bigint").alias("n_edges"))
        return n.join(F.broadcast(e)).select(
            F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges"
        )
    return (
        row(0, deg0, edges0)
        .unionAll(row(1, keep1, edges1))
        .unionAll(row(2, keep2, edges2))
        .orderBy("round")
    )


@query(
    "a422_association_rules",
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
  SELECT p.ant, p.cons, p.n_ab,
         round(CAST(p.n_ab AS DOUBLE) / (SELECT n FROM n_orders), 6)
           AS support_r,
         round(CAST(p.n_ab AS DOUBLE) / ia.n_it, 6) AS confidence_r,
         round(CAST(p.n_ab AS DOUBLE) * (SELECT n FROM n_orders)
               / (CAST(ia.n_it AS DOUBLE) * ic.n_it), 6) AS lift_r
  FROM pair p
  JOIN item ia ON ia.it = p.ant
  JOIN item ic ON ic.it = p.cons
  WHERE p.n_ab >= 3
)
SELECT ant, cons, n_ab, support_r, confidence_r, lift_r
FROM rules
ORDER BY lift_r DESC, ant, cons
LIMIT 20
""",
    tags=("analytics", "mining"),
)
def a422_association_rules(spark, sf_dir):
    """Market-basket association rules — support, confidence, and
    lift for directed part pairs mined from within-order
    co-occurrence, the classic Apriori-style recommender primitive
    that completes the co-purchase family: a112 predicts edges by
    graph structure, q213 ranks symmetric pair lift, and this adds the
    DIRECTED rule layer q213 lacks — per-direction confidence plus
    support, the actual Apriori rule-emission contract. Pair generation is the
    same bounded within-order equi-join every sibling uses (order
    size ≤7, never part×part); a minimum-support floor (n_ab ≥ 3)
    prunes noise rules BEFORE the metric joins, exactly the pruning
    that makes Apriori tractable at 100 TB. All three metrics are
    exact rationals from BIGINT counts rounded once; top-20 by lift
    with full deterministic tiebreak."""
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
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ant"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("cons"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("ant") != F.col("cons"))
        .groupBy("ant", "cons")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    rules = (
        pair.join(item.withColumnRenamed("it", "ant"), "ant")
        .withColumnRenamed("n_it", "n_ant")
        .join(
            item.select(F.col("it").alias("cons"), F.col("n_it").alias("n_cons")),
            "cons",
        )
        .join(F.broadcast(n_orders))
    )
    return (
        rules.select(
            "ant",
            "cons",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias(
                "support_r"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_ant"), 6).alias(
                "confidence_r"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n")
                / (F.col("n_ant").cast("double") * F.col("n_cons")),
                6,
            ).alias("lift_r"),
        )
        .orderBy(F.col("lift_r").desc(), "ant", "cons")
        .limit(20)
    )


@query(
    "a426_powerlaw_fit",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges)
  GROUP BY node
), hist AS (
  SELECT d, CAST(COUNT(*) AS BIGINT) AS n_d FROM deg GROUP BY d
), pts AS (
  SELECT CAST(ROUND(ln(CAST(d AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
         CAST(ROUND(ln(CAST(n_d AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
  FROM hist
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pts
)
SELECT n AS n_points,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
             6) AS slope_r,
       round((CAST(sy AS DOUBLE)
              - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                * sx) / n / 1000000.0, 6) AS intercept_r,
       round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
              * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS r2_r
FROM sums
""",
    tags=("analytics", "graph", "stats"),
)
def a426_powerlaw_fit(spark, sf_dir):
    """Log-log least-squares fit of the co-purchase degree
    distribution — the heavy-tail diagnostic: a straight log-log line
    (R² near 1) with slope −α means scale-free structure (hub caps
    and salting are mandatory at scale), while a bent line means
    degrees are homogeneous and plain hash partitioning is safe — the
    MEASUREMENT behind a111's and q182's skew decisions (q234 runs
    the same log-log OLS on token frequency vs RANK; this fits the
    degree HISTOGRAM, the graph-partitioning decision input). The degree
    histogram is a two-aggregate reduction of the pair stream; each
    (ln d, ln n_d) point micro-fixes to BIGINTs (the histogram is a
    bounded value set, and the q198 idf precedent covers single-ln
    micro-rounding), so all five regression sums are exact integers
    and slope/intercept/R² are closed-form doubles. Nothing after the
    degree aggregate scales with the corpus."""
    li = table(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    a = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = lp.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count("*").cast("bigint").alias("n_d"))
    pts = hist.select(
        money(F.log(F.col("d").cast("double")), 6).alias("x"),
        money(F.log(F.col("n_d").cast("double")), 6).alias("y"),
    )
    sums = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    deny = F.col("n").cast("double") * F.col("syy") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    slope = num / den
    return sums.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("slope_r"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx"))
            / F.col("n")
            / 1000000.0,
            6,
        ).alias("intercept_r"),
        F.round(num * num / (den * deny), 6).alias("r2_r"),
    )


@query(
    "a436_bradley_terry",
    oracle="""
WITH RECURSIVE li AS (
  SELECT l.l_orderkey AS ok, p.p_brand AS brand,
         l.l_extendedprice / l.l_quantity AS unit
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), duels AS (
  SELECT CASE WHEN a.unit < b.unit THEN a.brand ELSE b.brand END AS winner,
         CASE WHEN a.unit < b.unit THEN b.brand ELSE a.brand END AS loser
  FROM li a JOIN li b ON a.ok = b.ok AND a.brand < b.brand
), idx AS (
  SELECT brand, CAST(row_number() OVER (ORDER BY brand) - 1 AS BIGINT) AS i
  FROM (SELECT DISTINCT brand FROM li)
), wins AS (
  SELECT wi.i AS i, lj.i AS j, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM duels d JOIN idx wi ON wi.brand = d.winner
               JOIN idx lj ON lj.brand = d.loser
  GROUP BY wi.i, lj.i
), games AS (
  SELECT i, j, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
    SELECT i, j, cnt FROM wins
    UNION ALL
    SELECT j AS i, i AS j, cnt FROM wins
  ) GROUP BY i, j
), wtot AS (
  SELECT i, CAST(SUM(cnt) AS BIGINT) AS w FROM wins GROUP BY i
), mrows AS (
  SELECT a.i,
         list(CAST(coalesce(g.cnt, 0) AS DOUBLE) ORDER BY b.i) AS mrow
  FROM idx a CROSS JOIN idx b
  LEFT JOIN games g ON g.i = a.i AND g.j = b.i
  GROUP BY a.i
), base AS (
  SELECT (SELECT list(mrow ORDER BY i) FROM mrows) AS m,
         (SELECT list(CAST(coalesce(w.w, 0) AS DOUBLE) ORDER BY idx.i)
          FROM idx LEFT JOIN wtot w ON w.i = idx.i) AS w,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n
), it(k, s, m, w, n) AS (
  SELECT 0, list_transform(range(n), x -> CAST(1.0 AS DOUBLE)), m, w, n
  FROM base
  UNION ALL
  SELECT k + 1,
         list_transform(range(n), i ->
           w[i + 1] / list_reduce(
             list_transform(range(n), j ->
               m[i + 1][j + 1] / (s[i + 1] + s[j + 1])),
             (acc, x) -> acc + x)),
         m, w, n
  FROM it WHERE k < 20
), fin AS (
  SELECT s, n, list_reduce(s, (acc, x) -> acc + x) AS ssum
  FROM it WHERE k = 20
)
SELECT idx.brand,
       CAST(coalesce(w.w, 0) AS BIGINT) AS n_wins,
       CAST((SELECT SUM(cnt) FROM games g WHERE g.i = idx.i) AS BIGINT)
         AS n_games,
       round(f.s[idx.i + 1] * f.n / f.ssum, 6) AS rating_r
FROM idx CROSS JOIN fin f
LEFT JOIN wtot w ON w.i = idx.i
ORDER BY idx.brand
""",
    tags=("analytics", "ranking"),
)
def a436_bradley_terry(spark, sf_dir):
    """Bradley-Terry pairwise-preference ratings via Hunter's MM
    iteration — the model behind LLM preference leaderboards (Chatbot-
    Arena-style) and RLHF reward shaping: pairwise "duels" (two brands
    priced in the same order; the cheaper unit price wins — 0 exact
    ties in this fixture, ties awarded to the later brand by explicit
    CASE so both engines agree) aggregate to a 25×25 win matrix, and
    s_i ← W_i / Σ_j n_ij/(s_i+s_j) iterated 20× from all-ones recovers
    latent strengths. The expensive parts are relational and scale
    free: one within-order self-join bounded by order size (never
    brand×brand over the fact table), one groupBy to the 25²-entry
    matrix. The iteration itself runs on a SINGLE dense-matrix row via
    JVM higher-order functions (F.aggregate over a 20-step sequence,
    nested index folds — no Python, no driver loop, no extra jobs);
    the oracle replays the identical float program as a WITH RECURSIVE
    step (the a360 recipe: same left-to-right fold order gives
    bit-identical doubles, list_reduce's first-element seed being the
    additive identity). Ratings are mean-normalized once at output.
    At 100 TB the duel aggregation is the only data-scale stage; the
    matrix row stays O(players²) regardless of row count."""
    li = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("p_brand").alias("brand"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        )
        .localCheckpoint(eager=False)
    )
    # Duel stage stays the self-join over the checkpointed li: the
    # posting-list variant (groupBy(ok) + sorted-struct pair explode)
    # was A/B-measured ~45% slower at sf0.1 (0.89s vs 1.33s, min-of-5
    # interleaved) — order fan-out is ≤7 so the join is scale-safe and
    # the collect_list aggregate is the slower per-row path here.
    a = li.select(
        "ok", F.col("brand").alias("brand_a"), F.col("unit").alias("unit_a")
    )
    b = li.select(
        "ok", F.col("brand").alias("brand_b"), F.col("unit").alias("unit_b")
    )
    duels = (
        a.join(b, "ok")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .select(
            F.when(F.col("unit_a") < F.col("unit_b"), F.col("brand_a"))
            .otherwise(F.col("brand_b"))
            .alias("winner"),
            F.when(F.col("unit_a") < F.col("unit_b"), F.col("brand_b"))
            .otherwise(F.col("brand_a"))
            .alias("loser"),
        )
    )
    idx = (
        li.select("brand")
        .distinct()
        .select(
            "brand",
            (
                F.row_number().over(Window.orderBy("brand")) - 1
            ).cast("bigint").alias("i"),
        )
        .localCheckpoint(eager=False)
    )
    wi = idx.select(F.col("brand").alias("winner"), F.col("i").alias("i"))
    lj = idx.select(F.col("brand").alias("loser"), F.col("i").alias("j"))
    wins = (
        duels.join(F.broadcast(wi), "winner")
        .join(F.broadcast(lj), "loser")
        .groupBy("i", "j")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    games = (
        wins.select("i", "j", "cnt")
        .unionAll(
            wins.select(
                F.col("j").alias("i"), F.col("i").alias("j"), "cnt"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    wtot = wins.groupBy("i").agg(F.sum("cnt").cast("bigint").alias("w"))
    n_row = idx.agg(F.count("*").cast("bigint").alias("n"))
    # dense win-matrix rows: every (i, j) cell, zero-filled
    cells = (
        idx.select(F.col("i"))
        .crossJoin(F.broadcast(idx.select(F.col("i").alias("j"))))
        .join(games, ["i", "j"], "left")
        .select("i", "j", F.coalesce("cnt", F.lit(0)).cast("double").alias("g"))
    )
    mrows = cells.groupBy("i").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("j", "g"))), lambda x: x["g"]
        ).alias("mrow")
    )
    mat = mrows.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "mrow"))),
            lambda x: x["mrow"],
        ).alias("m")
    )
    wvec = (
        idx.join(wtot, "i", "left")
        .select("i", F.coalesce("w", F.lit(0)).cast("double").alias("wd"))
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "wd"))),
                lambda x: x["wd"],
            ).alias("w")
        )
    )
    one = mat.crossJoin(wvec).crossJoin(F.broadcast(n_row))
    zero_to_n = F.sequence(F.lit(0), (F.col("n") - 1).cast("int"))
    s_final = F.aggregate(
        F.sequence(F.lit(1), F.lit(20)),
        F.transform(zero_to_n, lambda _: F.lit(1.0)),
        lambda acc, _: F.transform(
            zero_to_n,
            lambda i: F.get(F.col("w"), i)
            / F.aggregate(
                zero_to_n,
                F.lit(0.0),
                lambda d, j: d
                + F.get(F.get(F.col("m"), i), j)
                / (F.get(acc, i) + F.get(acc, j)),
            ),
        ),
    )
    rated = one.select(
        F.col("n"),
        s_final.alias("s"),
    ).select(
        "n",
        "s",
        F.aggregate("s", F.lit(0.0), lambda a_, x: a_ + x).alias("ssum"),
    )
    expl = rated.select(
        "n", "ssum", F.posexplode("s").alias("i", "si")
    ).select(F.col("i").cast("bigint").alias("i"), "n", "ssum", "si")
    gtot = games.groupBy("i").agg(F.sum("cnt").cast("bigint").alias("n_games"))
    return (
        idx.join(expl, "i")
        .join(wtot, "i", "left")
        .join(gtot, "i", "left")
        .select(
            "brand",
            F.coalesce("w", F.lit(0)).cast("bigint").alias("n_wins"),
            F.col("n_games").cast("bigint").alias("n_games"),
            F.round(
                F.col("si") * F.col("n") / F.col("ssum"), 6
            ).alias("rating_r"),
        )
        .orderBy("brand")
    )


def _median_polish_oracle(sweeps: int = 2) -> str:
    """Unrolled alternating row/col median sweeps on the
    source × lang cell table; effects accumulate per sweep."""
    parts = ["""
WITH r0 AS (
  SELECT source, lang,
         CAST((SUM(n_chars) * 1000000) // COUNT(*) AS DOUBLE) AS resid
  FROM documents GROUP BY source, lang
), re0 AS (
  SELECT source, CAST(0.0 AS DOUBLE) AS eff
  FROM (SELECT DISTINCT source FROM documents)
), ce0 AS (
  SELECT lang, CAST(0.0 AS DOUBLE) AS eff
  FROM (SELECT DISTINCT lang FROM documents)
)"""]
    for k in range(1, sweeps + 1):
        parts.append(f""", rm{k} AS (
  SELECT source, median(resid) AS med FROM r{k - 1} GROUP BY source
), rr{k} AS (
  SELECT r.source, r.lang, r.resid - m.med AS resid
  FROM r{k - 1} r JOIN rm{k} m ON m.source = r.source
), re{k} AS (
  SELECT e.source, e.eff + m.med AS eff
  FROM re{k - 1} e JOIN rm{k} m ON m.source = e.source
), cm{k} AS (
  SELECT lang, median(resid) AS med FROM rr{k} GROUP BY lang
), r{k} AS (
  SELECT r.source, r.lang, r.resid - m.med AS resid
  FROM rr{k} r JOIN cm{k} m ON m.lang = r.lang
), ce{k} AS (
  SELECT e.lang, e.eff + m.med AS eff
  FROM ce{k - 1} e JOIN cm{k} m ON m.lang = e.lang
)""")
    parts.append(f"""
SELECT r.source, r.lang,
       r.resid AS resid_micro,
       re.eff AS row_eff_micro,
       ce.eff AS col_eff_micro
FROM r{sweeps} r
JOIN re{sweeps} re ON re.source = r.source
JOIN ce{sweeps} ce ON ce.lang = r.lang
ORDER BY r.source, r.lang""")
    return "".join(parts)


@query(
    "a452_median_polish",
    oracle=_median_polish_oracle(),
    tags=("analytics", "robust"),
)
def a452_median_polish(spark, sf_dir):
    """Tukey's median polish of the source × language mean-length
    table — the robust alternative to two-way ANOVA (a408 fits means;
    a single weird cell drags every marginal mean, while medians
    shrug it off): alternately subtract row medians then column
    medians from the residual table for two sweeps, accumulating
    additive row/column effects. Cell values start as exact integer
    micro-means (floor-div), and every median is of ≤20 dyadic
    rationals — medians interpolate midpoints, so residuals stay on
    an exact binary grid and both engines' `median` (exact
    interpolated middle) agree bit-for-bit; no fixed-point re-round
    is ever needed. Each sweep is two tiny groupBy-medians plus two
    broadcast-joins on the ~100-cell table; the corpus is scanned
    once. The decomposition reads: row effect = how long this
    source's docs run, column effect = the language's contribution,
    residual = the cell's own surprise — the robust QC view of any
    two-factor data census."""
    d = table(spark, sf_dir, "documents")
    r = (
        d.groupBy("source", "lang")
        .agg(
            F.expr("(sum(n_chars) * 1000000) div count(*)")
            .cast("double")
            .alias("resid")
        )
        .localCheckpoint(eager=False)
    )
    re_ = r.groupBy("source").agg(F.lit(0.0).alias("eff"))
    ce = r.groupBy("lang").agg(F.lit(0.0).alias("eff"))
    for _ in range(2):
        rm = r.groupBy("source").agg(F.median("resid").alias("med"))
        r = (
            r.join(F.broadcast(rm), "source")
            .select(
                "source", "lang", (F.col("resid") - F.col("med")).alias("resid")
            )
            .localCheckpoint(eager=False)
        )
        re_ = re_.join(F.broadcast(rm), "source").select(
            "source", (F.col("eff") + F.col("med")).alias("eff")
        )
        cm = r.groupBy("lang").agg(F.median("resid").alias("med"))
        r = (
            r.join(F.broadcast(cm), "lang")
            .select(
                "source", "lang", (F.col("resid") - F.col("med")).alias("resid")
            )
            .localCheckpoint(eager=False)
        )
        ce = ce.join(F.broadcast(cm), "lang").select(
            "lang", (F.col("eff") + F.col("med")).alias("eff")
        )
    return (
        r.join(re_.select("source", F.col("eff").alias("row_eff")), "source")
        .join(ce.select("lang", F.col("eff").alias("col_eff")), "lang")
        .select(
            "source",
            "lang",
            # dyadic-exact doubles in micro units: no rounding, no
            # half-boundary tie risk (the q326 class)
            F.col("resid").alias("resid_micro"),
            F.col("row_eff").alias("row_eff_micro"),
            F.col("col_eff").alias("col_eff_micro"),
        )
        .orderBy("source", "lang")
    )


@query(
    "a458_modularity",
    oracle="""
WITH lp AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS w
  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY pa, pb
), comm AS (
  SELECT p_partkey AS pk, p_brand AS brand FROM part
), m AS (
  SELECT CAST(SUM(w) AS BIGINT) AS m_tot FROM pairs
), deg AS (
  SELECT pk, CAST(SUM(w) AS BIGINT) AS d FROM (
    SELECT pa AS pk, w FROM pairs
    UNION ALL
    SELECT pb AS pk, w FROM pairs
  ) GROUP BY pk
), dcomm AS (
  SELECT c.brand, CAST(SUM(d.d) AS BIGINT) AS d_c,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg d JOIN comm c ON c.pk = d.pk
  GROUP BY c.brand
), ecomm AS (
  SELECT ca.brand, CAST(SUM(p.w) AS BIGINT) AS e_c
  FROM pairs p
  JOIN comm ca ON ca.pk = p.pa
  JOIN comm cb ON cb.pk = p.pb AND cb.brand = ca.brand
  GROUP BY ca.brand
)
SELECT d.brand, d.n_nodes,
       CAST(COALESCE(e.e_c, 0) AS BIGINT) AS intra_w,
       d.d_c AS degree_w,
       round(CAST(COALESCE(e.e_c, 0) AS DOUBLE) / m.m_tot
             - (CAST(d.d_c AS DOUBLE) / (2 * m.m_tot))
               * (CAST(d.d_c AS DOUBLE) / (2 * m.m_tot)), 6)
         AS q_contrib_r
FROM dcomm d LEFT JOIN ecomm e ON e.brand = d.brand
CROSS JOIN m
ORDER BY d.brand
""",
    tags=("analytics", "graph"),
)
def a458_modularity(spark, sf_dir):
    """Newman modularity of the brand partition over the co-purchase
    graph — the metric that EVALUATES a community assignment (here:
    do brands form real co-purchase communities?), closing the loop
    the graph stack opened: LPA (a357) proposes labels, this scores
    any labeling via Q = Σ_c [e_c/m − (d_c/2m)²]. Everything is exact
    integers until the final per-community division: intra-community
    edge weight e_c, weighted degree mass d_c, and total edge weight
    m come from the same bounded within-order pair generation as
    a357 (order size ≤7 — never part×part) plus two graph-sized
    aggregates. Near-zero contributions per brand = brands are NOT
    purchase communities (TPC-H orders mix brands uniformly) — the
    metric correctly refusing to see structure, same evidentiary
    role as a443's flat-profile Rayleigh. One pair shuffle + two
    group-bys at any scale."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    lp = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = lp.select("ok", F.col("pk").alias("pa"))
    b = lp.select("ok", F.col("pk").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("bigint").alias("w"))
        .localCheckpoint(eager=False)
    )
    comm = part.select(
        F.col("p_partkey").alias("pk"), F.col("p_brand").alias("brand")
    )
    m = pairs.agg(F.sum("w").cast("bigint").alias("m_tot"))
    deg = (
        pairs.select(F.col("pa").alias("pk"), "w")
        .unionAll(pairs.select(F.col("pb").alias("pk"), "w"))
        .groupBy("pk")
        .agg(F.sum("w").cast("bigint").alias("d"))
    )
    dcomm = (
        deg.join(comm, "pk")
        .groupBy("brand")
        .agg(
            F.sum("d").cast("bigint").alias("d_c"),
            F.count("*").cast("bigint").alias("n_nodes"),
        )
    )
    ca = comm.select(F.col("pk").alias("pa"), F.col("brand").alias("ba"))
    cb = comm.select(F.col("pk").alias("pb"), F.col("brand").alias("bb"))
    ecomm = (
        # no forced broadcast: comm derives from sf-scaled `part`
        # (the a357 brands class) — AQE picks the strategy at runtime
        pairs.join(ca, "pa")
        .join(cb, "pb")
        .filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.sum("w").cast("bigint").alias("e_c"))
    )
    dm = F.col("d_c").cast("double") / (2 * F.col("m_tot"))
    return (
        dcomm.join(ecomm, "brand", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "brand",
            "n_nodes",
            F.coalesce("e_c", F.lit(0)).cast("bigint").alias("intra_w"),
            F.col("d_c").alias("degree_w"),
            F.round(
                F.coalesce("e_c", F.lit(0)).cast("double") / F.col("m_tot")
                - dm * dm,
                6,
            ).alias("q_contrib_r"),
        )
        .orderBy("brand")
    )
