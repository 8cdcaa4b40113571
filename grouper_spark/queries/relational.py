"""Relational core: scan, filter, project, aggregate, rollup/cube/grouping
sets, sort/limit, set operations.

Scale notes (100 TB design point):
- Filters/projections are declared, not computed here — Catalyst pushes
  predicates and prunes columns into the parquet scan (verify via
  ``explain("formatted")``: PushedFilters / ReadSchema).
- Aggregations are hash aggregates with map-side partial aggregation;
  the only shuffle is on the (low-cardinality) group keys.
- Sorts before LIMIT compile to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import money, money_avg, money_sum
from ..sources import table
from . import query
from ._sqlgen import sql_money_avg, sql_money_cell, sql_money_sum

SHIP_CUTOFF = "1999-12-01"


@query(
    "q01_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {sql_money_sum("l_quantity", "sum_qty")},
       {sql_money_sum("l_extendedprice", "sum_base_price")},
       {sql_money_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
       {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
       {sql_money_avg("l_quantity", "avg_qty")},
       {sql_money_avg("l_extendedprice", "avg_price")},
       {sql_money_avg("l_discount", "avg_disc")},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("agg", "flagship"),
)
def q01_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-style pricing summary: scan → filter → hash agg → sort."""
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(f"{SHIP_CUTOFF} 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum("l_quantity", "sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            money_sum(disc_price, "sum_disc_price"),
            money_sum(charge, "sum_charge"),
            money_avg("l_quantity", "avg_qty"),
            money_avg("l_extendedprice", "avg_price"),
            money_avg("l_discount", "avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q02_filter_predicates",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part
WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
  AND p_size BETWEEN 10 AND 40
  AND p_name LIKE '%a%'
  AND p_retailprice IS NOT NULL
ORDER BY p_partkey
""",
    tags=("filter",),
)
def q02_filter_predicates(spark, sf_dir):
    """IN / BETWEEN / LIKE / null-check predicates, all pushed to the scan."""
    p = table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .filter(F.col("p_size").between(10, 40))
        .filter(F.col("p_name").like("%a%"))
        .filter(F.col("p_retailprice").isNotNull())
        .orderBy("p_partkey")
    )


@query(
    "q03_project_compute",
    oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_money_cell("l_extendedprice * (1 - l_discount)", "net_price")},
       {sql_money_cell("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "gross_price")},
       CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class,
       CAST(l_quantity AS BIGINT) AS qty_int
FROM lineitem
WHERE l_orderkey < 1000
ORDER BY l_orderkey, l_linenumber
""",
    tags=("project",),
)
def q03_project_compute(spark, sf_dir):
    """Computed projections: arithmetic, CASE WHEN, casts."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return l.select(
        "l_orderkey",
        "l_linenumber",
        (money(net) / 100.0).alias("net_price"),
        (money(net * (1 + F.col("l_tax"))) / 100.0).alias("gross_price"),
        F.when(F.col("l_quantity") >= 25, "bulk").otherwise("small").alias("qty_class"),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("qty_int"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q04_agg_global",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(DISTINCT l_partkey) AS n_parts,
       {sql_money_sum("l_extendedprice", "total_price")},
       {sql_money_cell("MIN(l_extendedprice)", "min_price")},
       {sql_money_cell("MAX(l_extendedprice)", "max_price")}
FROM lineitem
""",
    tags=("agg",),
)
def q04_agg_global(spark, sf_dir):
    """Global (no-group) aggregate with count distinct and min/max."""
    l = table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        money_sum("l_extendedprice", "total_price"),
        (money(F.min("l_extendedprice")) / 100.0).alias("min_price"),
        (money(F.max("l_extendedprice")) / 100.0).alias("max_price"),
    )


@query(
    "q05_group_count_distinct",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       {sql_money_sum("o_totalprice", "revenue")}
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("agg",),
)
def q05_group_count_distinct(spark, sf_dir):
    """Grouped aggregate with COUNT(DISTINCT) — expands to a two-phase
    aggregate in Spark; the distinct shuffle is on (group, value)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            money_sum("o_totalprice", "revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q06_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       {sql_money_sum("l_quantity", "sum_qty")}
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    tags=("agg",),
)
def q06_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (grand total + per-flag + per-pair)."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_items"), money_sum("l_quantity", "sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@query(
    "q07_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {sql_money_sum("o_totalprice", "revenue")}
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    tags=("agg",),
)
def q07_cube(spark, sf_dir):
    """CUBE: all grouping-set combinations of (status, priority)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), money_sum("o_totalprice", "revenue"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)) / 100.0
            AS DOUBLE) AS sum_price
FROM {lineitem}
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query(
    "q08_grouping_sets",
    oracle=GROUPING_SETS_SQL.format(lineitem="lineitem"),
    tags=("agg", "sql"),
)
def q08_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via Spark SQL (same SQL text as the oracle)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(GROUPING_SETS_SQL.format(lineitem="gs_lineitem"))


@query(
    "q09_sort_limit",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    tags=("sort",),
)
def q09_sort_limit(spark, sf_dir):
    """Global top-k — compiles to TakeOrderedAndProject (per-partition
    top-k + driver merge; never a full sort at any scale)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q10_set_ops",
    oracle="""
WITH building AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
), rich AS (
  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
), debtors AS (
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
)
SELECT c_custkey, 'building_rich' AS tag FROM (
  SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich
)
UNION ALL
SELECT c_custkey, 'building_debtor' AS tag FROM (
  SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM debtors
)
ORDER BY tag, c_custkey
""",
    tags=("setop",),
)
def q10_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION ALL composition."""
    c = table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    debtors = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    both = building.intersect(rich).withColumn("tag", F.lit("building_rich"))
    # subtract == EXCEPT (distinct semantics), matching the SQL oracle
    solvent = building.subtract(debtors).withColumn("tag", F.lit("building_debtor"))
    return both.unionByName(solvent).orderBy("tag", "c_custkey")


@query(
    "q61_percentiles",
    oracle="""
SELECT o_orderpriority,
       round(median(o_totalprice), 4) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("agg",),
)
def q61_percentiles(spark, sf_dir):
    """Exact per-group percentiles (median / p90 / p99, linear
    interpolation). Exact percentile sorts each group's values — at
    100 TB swap in approx_percentile (t-digest sketch, map-side
    mergeable) and drop the oracle to rows-only."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.median("o_totalprice"), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q62_pivot",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p,
       {sql_money_sum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END", "rev_f")}
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("agg", "pivot"),
)
def q62_pivot(spark, sf_dir):
    """Pivot (wide aggregation): order counts by priority × status plus
    pivoted revenue. Explicit pivot values keep the plan a single-pass
    hash aggregate (no distinct-values pre-query) — required at scale."""
    o = table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("o_totalprice"), "rev"),
        )
    )
    # absent (priority, status) combos: pivot emits NULL, the oracle's
    # COUNT(*) FILTER emits 0 — coalesce every pivoted cell
    return piv.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.coalesce("F_rev", F.lit(0.0)).alias("rev_f"),
    ).orderBy("o_orderpriority")


@query("q68_approx_percentiles", oracle=None, tags=("agg", "approx", "rows_only"))
def q68_approx_percentiles(spark, sf_dir):
    """Sketch-path percentiles: approx_percentile (mergeable digest,
    map-side combinable — the 100 TB replacement for q61's exact sort).
    Sketch merges are arrival-order-dependent, so values may wobble
    within the accuracy bound across runs → rows-only check."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)), 4
            ).alias("median_approx"),
            F.round(
                F.percentile_approx("o_totalprice", F.lit(0.9), F.lit(10000)), 4
            ).alias("p90_approx"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q69_set_ops_all",
    oracle="""
WITH a AS (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
), b AS (
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT 'inter' AS op, o_custkey, COUNT(*) AS n FROM (
  SELECT * FROM a INTERSECT ALL SELECT * FROM b
) GROUP BY o_custkey
UNION ALL
SELECT 'exc' AS op, o_custkey, COUNT(*) AS n FROM (
  SELECT * FROM a EXCEPT ALL SELECT * FROM b
) GROUP BY o_custkey
ORDER BY op, o_custkey
""",
    tags=("setops",),
)
def q69_set_ops_all(spark, sf_dir):
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL) — bag
    semantics with duplicate counts preserved, unlike q10's distinct
    variants. Both compile to a single aggregate on the value with
    min/diff of per-side counts — one shuffle each."""
    o = table(spark, sf_dir, "orders")
    # each side feeds BOTH set operators; checkpoint the single-column
    # projections so the scan runs once per side, not once per operator
    a = (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .localCheckpoint(eager=False)
    )
    b = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .localCheckpoint(eager=False)
    )
    inter = (
        a.intersectAll(b)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .withColumn("op", F.lit("inter"))
    )
    exc = (
        a.exceptAll(b)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .withColumn("op", F.lit("exc"))
    )
    return inter.unionByName(exc).select("op", "o_custkey", "n").orderBy(
        "op", "o_custkey"
    )


@query(
    "q72_unpivot",
    oracle="""
WITH wide AS (
  SELECT o_orderpriority,
         COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
  FROM orders
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, status, n_orders
FROM wide
UNPIVOT (n_orders FOR status IN (n_f, n_o, n_p))
ORDER BY o_orderpriority, status
""",
    tags=("agg", "pivot"),
)
def q72_unpivot(spark, sf_dir):
    """Unpivot (melt): the wide pivot table back to long form —
    DataFrame.unpivot with explicit value columns, the inverse of q62.
    Wide→long is a per-row explode, no shuffle beyond the source agg."""
    o = table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"], ["n_f", "n_o", "n_p"], "status", "n_orders"
    ).orderBy("o_orderpriority", "status")


@query(
    "q73_stats",
    oracle="""
SELECT o_orderpriority,
       round(stddev_samp(o_totalprice), 4) AS price_stddev,
       round(var_samp(o_totalprice), 4) AS price_var,
       round(covar_samp(o_totalprice, o_custkey), 4) AS price_cust_cov,
       round(corr(o_totalprice, o_custkey), 6) AS price_cust_corr
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("agg", "stats"),
)
def q73_stats(spark, sf_dir):
    """Statistical aggregate battery: sample stddev/variance, covariance
    and correlation per group. Both engines use single-pass co-moment
    updates; rounding absorbs the last-ulp accumulation-order noise."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.stddev_samp("o_totalprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("o_totalprice"), 4).alias("price_var"),
            F.round(F.covar_samp("o_totalprice", "o_custkey"), 4).alias(
                "price_cust_cov"
            ),
            F.round(F.corr("o_totalprice", "o_custkey"), 6).alias(
                "price_cust_corr"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q209_global_row_numbering",
    oracle="""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY source, doc_id) - 1 AS BIGINT)
         AS global_idx
FROM documents
ORDER BY doc_id
""",
    tags=("relational", "scale"),
)
def q209_global_row_numbering(spark, sf_dir):
    """Stable global row ids WITHOUT a global sort — the distributed
    zipWithIndex pattern: (1) per-group counts aggregate to a
    group-count-sized table; (2) cumulative offsets over that tiny
    table (the only ordered step — group-count rows, not corpus rows);
    (3) offsets broadcast back and each group numbers itself
    independently with a PARTITIONED window. The naive formulation —
    row_number() over a global ORDER BY (the oracle's wording) — funnels
    the corpus through one reducer; this plan's widest ordered
    computation is group-count sized at any corpus scale."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    woff = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "source", F.coalesce(F.sum("n").over(woff), F.lit(0)).alias("offset")
    )
    wlocal = Window.partitionBy("source").orderBy("doc_id")
    return (
        d.join(F.broadcast(offsets), "source")
        .select(
            "doc_id",
            (F.col("offset") + F.row_number().over(wlocal) - 1)
            .cast("bigint")
            .alias("global_idx"),
        )
        .orderBy("doc_id")
    )


@query(
    "q210_null_safe_compare",
    oracle="""
WITH j AS (
  SELECT event_type,
         CASE WHEN json_extract_string(props::JSON, '$.k')::BIGINT % 3 = 0
              THEN NULL
              ELSE json_extract_string(props::JSON, '$.k')::BIGINT % 5
         END AS grp
  FROM events
), g AS (
  SELECT event_type, grp, COUNT(*) AS n FROM j GROUP BY event_type, grp
)
SELECT a.event_type,
       CAST(SUM(g.n) AS BIGINT) AS n_pairs
FROM j a JOIN g
  ON a.grp IS NOT DISTINCT FROM g.grp
 AND a.event_type = g.event_type
GROUP BY a.event_type
ORDER BY a.event_type
""",
    tags=("relational", "join"),
)
def q210_null_safe_compare(spark, sf_dir):
    """Null-safe equality (``<=>`` / IS NOT DISTINCT FROM) as a JOIN
    key: NULL matches NULL, so null-group rows pair with each other
    instead of silently dropping — the semantics entity-resolution
    joins on optional attributes need. Spark plans the null-safe
    equi-condition as a hash join on a null-wrapped key (never a
    nested-loop); counts per event type prove the NULL x NULL block
    participates."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    j = ev.select(
        "event_type",
        F.when(k % 3 == 0, F.lit(None).cast("bigint")).otherwise(k % 5).alias(
            "grp"
        ),
    ).localCheckpoint(eager=False)  # fact side + the aggregate derive from it
    # the null-safe join runs fact-vs-AGGREGATE (group-count sized,
    # broadcast), never fact-vs-fact: sum of per-group counts equals the
    # row-pair count exactly, without materializing the quadratic pair
    # stream (the row x row formulation is 300M+ rows at sf0.1)
    g = j.groupBy("event_type", "grp").agg(F.count("*").alias("n"))
    a = j.alias("a")
    return (
        a.join(
            F.broadcast(g.alias("g")),
            (F.col("a.grp").eqNullSafe(F.col("g.grp")))
            & (F.col("a.event_type") == F.col("g.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(F.sum("n").cast("bigint").alias("n_pairs"))
        .orderBy("event_type")
    )


@query(
    "q223_topn_with_others",
    oracle="""
WITH agg AS (
  SELECT p_brand, p_type,
         CAST(SUM(CAST(ROUND(p_retailprice * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS rev_cents,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_brand, p_type
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY p_brand
                               ORDER BY rev_cents DESC, p_type) AS rk
  FROM agg
)
SELECT p_brand,
       CASE WHEN rk <= 3 THEN p_type ELSE '(others)' END AS p_type,
       CAST(SUM(rev_cents) AS BIGINT) AS rev_cents,
       CAST(SUM(n_parts) AS BIGINT) AS n_parts
FROM ranked
GROUP BY 1, 2
ORDER BY p_brand, rev_cents DESC, p_type
""",
    tags=("relational", "window"),
)
def q223_topn_with_others(spark, sf_dir):
    """Top-N per group with an '(others)' rollover bucket — the BI
    presentation aggregate: each brand keeps its top-3 types by
    revenue and folds the tail into one residual row, so totals are
    preserved (sum of the output equals the input total, unlike a
    plain top-N cut). Rank over the pre-aggregated (brand, type) table
    — group-count sized — then a second fold aggregate on the bucketed
    key; the part fact is touched once."""
    from pyspark.sql import Window

    p = table(spark, sf_dir, "part")
    agg = p.groupBy("p_brand", "p_type").agg(
        F.sum(money("p_retailprice"))
        .cast("bigint")
        .alias("rev_cents"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    rk = F.row_number().over(
        Window.partitionBy("p_brand").orderBy(F.col("rev_cents").desc(), "p_type")
    )
    bucketed = agg.withColumn("rk", rk).select(
        "p_brand",
        F.when(F.col("rk") <= 3, F.col("p_type"))
        .otherwise("(others)")
        .alias("p_type"),
        "rev_cents",
        "n_parts",
    )
    return (
        bucketed.groupBy("p_brand", "p_type")
        .agg(
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
            F.sum("n_parts").cast("bigint").alias("n_parts"),
        )
        .orderBy("p_brand", F.col("rev_cents").desc(), "p_type")
    )


@query(
    "q254_rollup_cascade",
    oracle="""
SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
       CAST(COUNT(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
         AS n_months,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders
GROUP BY quarter
ORDER BY quarter
""",
    tags=("agg", "rollup"),
)
def q254_rollup_cascade(spark, sf_dir):
    """Multi-granularity rollup cascade: day -> month -> quarter, each
    level aggregated FROM THE LEVEL BELOW, never from the raw fact —
    the incremental-maintenance shape a warehouse runs nightly (the day
    partials are what you'd persist; month and quarter refreshes then
    cost KBs instead of a fact scan). The oracle computes quarters
    directly from raw orders, so the hash gate proves the cascade's
    algebraic claim: counts and integer-cent sums are associative, so
    re-aggregating partials is EXACTLY the direct answer (the property
    that breaks for medians/distincts and is why those need sketches).
    One corpus-sized shuffle (to days); everything above is
    calendar-cardinality."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(money("o_totalprice"))
        .cast("bigint")
        .alias("cents"),
    )
    monthly = daily.groupBy(
        F.date_trunc("month", "day").cast("date").alias("month")
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    return (
        monthly.groupBy(
            F.date_trunc("quarter", "month").cast("date").alias("quarter")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_months"),
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("quarter")
    )


@query(
    "q256_date_dimension",
    oracle="""
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
), dim0 AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM bounds
), dim AS (
  SELECT day,
         -- Spark's dayofweek is 1=Sunday..7=Saturday; DuckDB's is
         -- 0=Sunday..6=Saturday — derive Spark's numbering from isodow
         CAST(isodow(day) % 7 + 1 AS INT) AS dow,
         CAST(CASE WHEN isodow(day) IN (6, 7)
              THEN 1 ELSE 0 END AS INT) AS is_weekend,
         CAST(quarter(day) AS INT) AS qtr
  FROM dim0
)
SELECT dim.qtr, dim.is_weekend,
       CAST(COUNT(DISTINCT dim.day) AS BIGINT) AS n_days,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM dim LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = dim.day
GROUP BY dim.qtr, dim.is_weekend
ORDER BY dim.qtr, dim.is_weekend
""",
    tags=("agg", "dimension"),
)
def q256_date_dimension(spark, sf_dir):
    """Generated date-dimension join (the Kimball calendar table): the
    dimension is SYNTHESIZED in-plan with sequence() over the fact's
    date bounds — day, day-of-week, weekend flag, quarter — then the
    fact left-joins it so zero-order days still report. The dimension
    is calendar-sized and generation is pure codegen, so at 100 TB this
    costs one bounds aggregate + one join — the pattern that replaces
    hand-maintained calendar parquet files. A left join can broadcast
    only its right side, the fact, so the dimension carries no
    broadcast hint. n_days counts dimension rows per group (including
    orderless days), proving the left-join direction; revenue stays
    fixed-point exact."""
    o = table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    dim = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    ).select(
        "day",
        F.dayofweek("day").cast("int").alias("dow"),
        F.dayofweek("day").isin(1, 7).cast("int").alias("is_weekend"),
        F.quarter("day").cast("int").alias("qtr"),
    )
    fact = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("day"),
        money("o_totalprice").alias("rc"),
    )
    return (
        dim.join(fact, "day", "left")
        .groupBy("qtr", "is_weekend")
        .agg(
            F.count_distinct("day").cast("bigint").alias("n_days"),
            F.count("o_orderkey").cast("bigint").alias("n_orders"),
            F.sum("rc").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("qtr", "is_weekend")
    )


@query(
    "q290_aging_waterfall",
    oracle="""
WITH aged AS (
  SELECT o_orderkey, o_totalprice,
         CAST((DATE '2001-09-01' - CAST(o_orderdate AS DATE)) // 30
              AS BIGINT) AS age_months
  FROM orders WHERE o_orderstatus = 'O'
), bucketed AS (
  SELECT CASE WHEN age_months < 1 THEN '0-30d'
              WHEN age_months < 3 THEN '31-90d'
              WHEN age_months < 6 THEN '91-180d'
              WHEN age_months < 12 THEN '181-365d'
              ELSE '365d+' END AS age_bucket,
         o_totalprice
  FROM aged
), tot AS (
  SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS all_cents
  FROM bucketed
)
SELECT b.age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(b.o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS cents,
       round(CAST(SUM(CAST(ROUND(b.o_totalprice * 100.0, 0) AS BIGINT))
                  AS DOUBLE) / t.all_cents, 6) AS share_r
FROM bucketed b CROSS JOIN tot t
GROUP BY b.age_bucket, t.all_cents
ORDER BY b.age_bucket
""",
    tags=("agg", "finance"),
)
def q290_aging_waterfall(spark, sf_dir):
    """Open-order aging waterfall (the AR/receivables report every
    finance close runs): orders still open at the reference date
    bucketed by age band, with order counts, exact cents, and share of
    total exposure — the table that answers "how much value is stuck,
    and how stale is it". Age bands derive from integer day/month
    arithmetic (the same div semantics both engines), the share
    denominators ride a broadcast 1-row total, and the whole report is
    one filtered aggregate — at 100 TB the status filter prunes first
    (pushed to the scan), so cost tracks open orders, not history."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "O"
    )
    months = F.expr(
        "datediff(CAST('2001-09-01' AS DATE), CAST(o_orderdate AS DATE))"
        " div 30"
    ).cast("bigint")
    bucket = (
        F.when(months < 1, "0-30d")
        .when(months < 3, "31-90d")
        .when(months < 6, "91-180d")
        .when(months < 12, "181-365d")
        .otherwise("365d+")
    )
    cents = money("o_totalprice")
    bucketed = o.select(bucket.alias("age_bucket"), cents.alias("cents"))
    tot = bucketed.agg(F.sum("cents").cast("bigint").alias("all_cents"))
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .groupBy("age_bucket", "all_cents")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            "age_bucket",
            "n_orders",
            "cents",
            F.round(
                F.col("cents").cast("double") / F.col("all_cents"), 6
            ).alias("share_r"),
        )
        .orderBy("age_bucket")
    )


@query(
    "a362_union_by_name",
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, o_custkey,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
         o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  UNION ALL BY NAME
  SELECT o_orderkey, o_custkey,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents
  FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
)
SELECT COALESCE(o_orderpriority, '(legacy)') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM unioned
GROUP BY priority
ORDER BY priority
""",
    tags=("sql", "schema-evolution"),
)
def a362_union_by_name(spark, sf_dir):
    """Schema-drift union (unionByName + allowMissingColumns ≍ DuckDB
    UNION ALL BY NAME) — the append that survives a release adding a
    column: the legacy extract lacks ``o_orderpriority``, the new one
    carries it, and the by-NAME union aligns shared columns and
    null-fills the missing one instead of the silent positional
    mismatch plain UNION ALL produces when widths drift. The rollup
    then treats the null-filled rows as a '(legacy)' cohort — the
    standard backfill-read shape for a table whose schema evolved
    mid-history (the file-level twin is the mergeSchema read, q192/
    test_sources). One scan per side, one aggregate shuffle."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    cut = F.lit("1995-01-01").cast("timestamp")
    new = o.filter(F.col("o_orderdate") >= cut).select(
        "o_orderkey", "o_custkey", cents.alias("cents"), "o_orderpriority"
    )
    legacy = o.filter(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    unioned = new.unionByName(legacy, allowMissingColumns=True)
    return (
        unioned.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("(legacy)")).alias(
                "priority"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("priority")
    )


@query(
    "a374_diversified_topk",
    oracle="""
WITH per_brand AS (
  SELECT p_partkey, p_brand, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey)
           AS brand_rank
  FROM part
), capped AS (
  SELECT * FROM per_brand WHERE brand_rank <= 2
)
SELECT CAST(row_number() OVER (ORDER BY p_retailprice DESC, p_partkey)
            AS BIGINT) AS rk,
       p_partkey, p_brand,
       CAST(ROUND(p_retailprice * 100.0, 0) AS BIGINT) AS price_cents,
       CAST(brand_rank AS BIGINT) AS brand_rank
FROM capped
ORDER BY rk
LIMIT 20
""",
    tags=("ranking", "window"),
)
def a374_diversified_topk(spark, sf_dir):
    """Diversified top-k — the search/recommendation ranking constraint
    "best 20 overall, but no brand may occupy more than 2 slots":
    a per-group window caps each brand's contribution FIRST (so the
    global ranking never sees a brand's third-best item), then one
    global ranking window orders the survivors. Two windows, no joins;
    the global window runs over the capped table, which is at most
    2·|brands| rows — summary-sized regardless of catalog size, which
    is what makes the single-partition global sort acceptable at
    scale. Deterministic tiebreaks (price DESC, partkey) pin both
    windows cross-engine."""
    p = table(spark, sf_dir, "part")
    wb = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), "p_partkey"
    )
    capped = p.select(
        "p_partkey",
        "p_brand",
        "p_retailprice",
        F.row_number().over(wb).alias("brand_rank"),
    ).filter(F.col("brand_rank") <= 2)
    wg = Window.orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        capped.select(
            F.row_number().over(wg).cast("bigint").alias("rk"),
            "p_partkey",
            "p_brand",
            money("p_retailprice").alias("price_cents"),
            F.col("brand_rank").cast("bigint").alias("brand_rank"),
        )
        .orderBy("rk")
        .limit(20)
    )


@query(
    "a375_crosstab_api",
    oracle="""
SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
            AS BIGINT) AS "F",
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
            AS BIGINT) AS "O",
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
            AS BIGINT) AS "P"
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority_o_orderstatus
""",
    tags=("api", "stats"),
)
def a375_crosstab_api(spark, sf_dir):
    """DataFrameStatFunctions.crosstab — the pair-frequency contingency
    API (df.stat.crosstab), which builds the full category×category
    count matrix in one pass (internally a pivot on the concatenated
    pair counts). The API returns one column per distinct value of the
    second key; the fixture's status domain {F, O, P} is stable across
    scale factors, so the schema is stable and the oracle mirrors it
    as conditional aggregates. This is the exploratory twin of q168's
    chi-square (same table, statistic vs counts). Output is
    |priorities|×|statuses| — bounded."""
    o = table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderpriority", "o_orderstatus")
    cols = [c for c in ct.columns if c != "o_orderpriority_o_orderstatus"]
    return ct.select(
        "o_orderpriority_o_orderstatus",
        *[F.col(f"`{c}`").cast("bigint").alias(c) for c in sorted(cols)],
    ).orderBy("o_orderpriority_o_orderstatus")


@query(
    "a380_null_ordering",
    oracle="""
WITH flagged AS (
  SELECT c_custkey, c_mktsegment,
         CASE WHEN c_acctbal < 0.0 THEN NULL
              ELSE CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) END
           AS bal_cents
  FROM customer
)
SELECT c_custkey, c_mktsegment, bal_cents,
       CAST(row_number() OVER (ORDER BY bal_cents ASC NULLS FIRST,
                               c_custkey) AS BIGINT) AS rk_nulls_first,
       CAST(row_number() OVER (ORDER BY bal_cents DESC NULLS LAST,
                               c_custkey) AS BIGINT) AS rk_nulls_last
FROM flagged
ORDER BY rk_nulls_first
LIMIT 50
""",
    tags=("sql", "sort"),
)
def a380_null_ordering(spark, sf_dir):
    """Explicit NULL-ordering battery — the cross-engine landmine made
    safe: Spark's default for ascending sorts is NULLS FIRST while
    DuckDB's is NULLS LAST, so any ORDER BY over a nullable key that
    doesn't SPELL OUT the null position is silently engine-dependent
    (and hash-gate-unstable). Both rankings here pin the position
    explicitly (asc_nulls_first / desc_nulls_last), with a
    deterministic key tiebreak, and the oracle uses the identical
    explicit syntax — the portability discipline every ranked export
    should follow. Negative balances map to NULL to guarantee nulls
    exist in the sort domain at every scale factor."""
    c = table(spark, sf_dir, "customer")
    bal = F.when(
        F.col("c_acctbal") >= 0.0,
        money("c_acctbal"),
    ).alias("bal_cents")
    flagged = c.select("c_custkey", "c_mktsegment", bal)
    w1 = Window.orderBy(
        F.col("bal_cents").asc_nulls_first(), F.col("c_custkey")
    )
    w2 = Window.orderBy(
        F.col("bal_cents").desc_nulls_last(), F.col("c_custkey")
    )
    return (
        flagged.select(
            "c_custkey",
            "c_mktsegment",
            "bal_cents",
            F.row_number().over(w1).cast("bigint").alias("rk_nulls_first"),
            F.row_number().over(w2).cast("bigint").alias("rk_nulls_last"),
        )
        .orderBy("rk_nulls_first")
        .limit(50)
    )


@query(
    "a451_transpose_api",
    oracle="""
WITH agg AS (
  SELECT o_orderpriority AS grp,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS sum_cents,
         CAST(MAX(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS max_cents,
         CAST(MIN(o_custkey) AS BIGINT) AS min_custkey
  FROM orders GROUP BY grp
), m AS (
  SELECT 'max_cents' AS key, 1 AS ord FROM (VALUES (1)) t(x)
  UNION ALL SELECT 'min_custkey', 2
  UNION ALL SELECT 'n_orders', 3
  UNION ALL SELECT 'sum_cents', 4
)
SELECT m.key,
       MAX(CASE m.key WHEN 'n_orders' THEN (SELECT n_orders FROM agg WHERE grp = '1-URGENT')
                      WHEN 'sum_cents' THEN (SELECT sum_cents FROM agg WHERE grp = '1-URGENT')
                      WHEN 'max_cents' THEN (SELECT max_cents FROM agg WHERE grp = '1-URGENT')
                      ELSE (SELECT min_custkey FROM agg WHERE grp = '1-URGENT') END)
         AS "1-URGENT",
       MAX(CASE m.key WHEN 'n_orders' THEN (SELECT n_orders FROM agg WHERE grp = '2-HIGH')
                      WHEN 'sum_cents' THEN (SELECT sum_cents FROM agg WHERE grp = '2-HIGH')
                      WHEN 'max_cents' THEN (SELECT max_cents FROM agg WHERE grp = '2-HIGH')
                      ELSE (SELECT min_custkey FROM agg WHERE grp = '2-HIGH') END)
         AS "2-HIGH",
       MAX(CASE m.key WHEN 'n_orders' THEN (SELECT n_orders FROM agg WHERE grp = '3-MEDIUM')
                      WHEN 'sum_cents' THEN (SELECT sum_cents FROM agg WHERE grp = '3-MEDIUM')
                      WHEN 'max_cents' THEN (SELECT max_cents FROM agg WHERE grp = '3-MEDIUM')
                      ELSE (SELECT min_custkey FROM agg WHERE grp = '3-MEDIUM') END)
         AS "3-MEDIUM",
       MAX(CASE m.key WHEN 'n_orders' THEN (SELECT n_orders FROM agg WHERE grp = '4-NOT SPECIFIED')
                      WHEN 'sum_cents' THEN (SELECT sum_cents FROM agg WHERE grp = '4-NOT SPECIFIED')
                      WHEN 'max_cents' THEN (SELECT max_cents FROM agg WHERE grp = '4-NOT SPECIFIED')
                      ELSE (SELECT min_custkey FROM agg WHERE grp = '4-NOT SPECIFIED') END)
         AS "4-NOT SPECIFIED",
       MAX(CASE m.key WHEN 'n_orders' THEN (SELECT n_orders FROM agg WHERE grp = '5-LOW')
                      WHEN 'sum_cents' THEN (SELECT sum_cents FROM agg WHERE grp = '5-LOW')
                      WHEN 'max_cents' THEN (SELECT max_cents FROM agg WHERE grp = '5-LOW')
                      ELSE (SELECT min_custkey FROM agg WHERE grp = '5-LOW') END)
         AS "5-LOW"
FROM m GROUP BY m.key, m.ord ORDER BY m.key
""",
    tags=("relational", "sql-feature"),
)
def a451_transpose_api(spark, sf_dir):
    """Spark 4.0 DataFrame.transpose — the native rows↔columns flip
    (measure names become rows, index-column VALUES become columns,
    ascending), which replaces the stack()/pivot two-step every
    metrics dashboard used to hand-write. A 5-row per-priority
    aggregate of uniform BIGINT measures (transpose requires a least
    common type across value columns — the sharp edge this battery
    pins) flips to a 4-row × 5-priority-column table. The oracle
    reconstructs the exact transposed shape with a manual
    conditional-aggregation pivot, including the default "key"
    column and the ascending column order. Transpose collects the
    index values to the driver to name columns — bounded here by the
    5-value priority domain, the documented contract for using it at
    scale (transpose an AGGREGATE, never a fact table)."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    agg = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(cents).cast("bigint").alias("sum_cents"),
        F.max(cents).cast("bigint").alias("max_cents"),
        F.min("o_custkey").cast("bigint").alias("min_custkey"),
    )
    return agg.transpose().orderBy("key")
