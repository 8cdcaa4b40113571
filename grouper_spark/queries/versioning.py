"""Data-versioning battery: snapshot diff and Z-order layout clustering.

Snapshot diff is the table-format primitive (Delta/Iceberg style) a
lakehouse uses to audit what changed between two table versions; the
implementation is one full-outer join on the primary key comparing
payload fingerprints — never a row-by-row replay. Z-ordering is the
layout optimization that makes multi-column range predicates prune
files: interleaving the bits of two keys gives one sort key whose
ranges are small in BOTH dimensions.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import md5_bits, money
from ..sources import staged_path, table
from . import query
from ..operators.core import literal_frame

# v1 = orders before 1997; v2 = orders before 1998 with urgent-priority
# totals repriced +10%. Deterministic synthetic "versions" of one table.
_V1_CUT = "1997-01-01"
_V2_CUT = "1998-01-01"


def _payload_hash_sql(price_expr: str) -> str:
    return (
        "md5(concat(o_orderstatus, '|', "
        f"CAST(CAST(ROUND({price_expr} * 100.0, 0) AS BIGINT) AS VARCHAR)"
        ", '|', o_orderpriority))"
    )


@query(
    "q128_snapshot_diff",
    oracle=f"""
WITH v1 AS (
  SELECT o_orderkey, {_payload_hash_sql('o_totalprice')} AS h
  FROM orders WHERE o_orderdate < TIMESTAMP '{_V1_CUT}'
), v2 AS (
  SELECT o_orderkey,
         {_payload_hash_sql("CASE WHEN o_orderpriority = '1-URGENT' "
                            "THEN o_totalprice * 1.1 ELSE o_totalprice END")}
           AS h
  FROM orders WHERE o_orderdate < TIMESTAMP '{_V2_CUT}'
), diff AS (
  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
         CASE WHEN v1.o_orderkey IS NULL THEN 'added'
              WHEN v2.o_orderkey IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS key_sum
FROM diff
GROUP BY change_type
ORDER BY change_type
""",
    tags=("versioning", "join"),
)
def q128_snapshot_diff(spark, sf_dir):
    """Snapshot diff between two table versions: one full-outer join on
    the primary key, classifying each key as added / removed / changed /
    unchanged by comparing an md5 payload fingerprint (fixed-point cents
    inside the hash so both engines fingerprint identical bytes). The
    key_sum column makes the per-class row SETS — not just counts —
    part of the checked contract. At lake scale both sides are
    key-bucketed so the outer join is co-partitioned, and the
    fingerprint column is precomputed at write time."""
    o = table(spark, sf_dir, "orders")

    def fingerprint(price):
        cents = money(price).cast("string")
        return F.md5(
            F.concat_ws(
                "|", F.col("o_orderstatus"), cents, F.col("o_orderpriority")
            )
        )

    v1 = o.filter(F.col("o_orderdate") < _V1_CUT).select(
        "o_orderkey", fingerprint(F.col("o_totalprice")).alias("h")
    )
    repriced = F.when(
        F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice") * 1.1
    ).otherwise(F.col("o_totalprice"))
    v2 = o.filter(F.col("o_orderdate") < _V2_CUT).select(
        "o_orderkey", fingerprint(repriced).alias("h")
    )
    joined = v1.withColumnRenamed("h", "h1").join(
        v2.withColumnRenamed("h", "h2"),
        "o_orderkey",
        "full_outer",
        # full-outer on the key: USING-style join keeps one coalesced key col
    )
    classified = joined.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return (
        classified.groupBy("change_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("key_sum"),
        )
        .orderBy("change_type")
    )


@query(
    "q129_zorder_layout",
    oracle="""
WITH bits AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_partkey % 256 AS BIGINT) AS x,
         CAST(l_suppkey % 256 AS BIGINT) AS y
  FROM lineitem
), z AS (
  SELECT l_orderkey, l_linenumber, x, y,
         (((x >> 0) & 1) << 0)  | (((y >> 0) & 1) << 1)  |
         (((x >> 1) & 1) << 2)  | (((y >> 1) & 1) << 3)  |
         (((x >> 2) & 1) << 4)  | (((y >> 2) & 1) << 5)  |
         (((x >> 3) & 1) << 6)  | (((y >> 3) & 1) << 7)  |
         (((x >> 4) & 1) << 8)  | (((y >> 4) & 1) << 9)  |
         (((x >> 5) & 1) << 10) | (((y >> 5) & 1) << 11) |
         (((x >> 6) & 1) << 12) | (((y >> 6) & 1) << 13) |
         (((x >> 7) & 1) << 14) | (((y >> 7) & 1) << 15) AS zval
  FROM bits
)
SELECT CAST(zval >> 10 AS INT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max
FROM z
GROUP BY zbucket
ORDER BY zbucket
""",
    tags=("versioning", "layout"),
)
def q129_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout clustering: interleave the low 8 bits of
    two join keys into one sort key and bucket rows by its prefix —
    every bucket's min/max envelope is then narrow in BOTH x and y (the
    output proves it: per-bucket x/y ranges are ~1/32 of the domain),
    which is exactly why a Z-sorted parquet lake prunes files for
    predicates on either column. Pure bit arithmetic, whole-stage
    codegen, one aggregate shuffle; at write time the same zval feeds
    sortWithinPartitions to lay files out."""
    li = table(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 256).cast("bigint")
    y = (F.col("l_suppkey") % 256).cast("bigint")
    zval = F.lit(0).cast("bigint")
    for i in range(8):
        zval = zval.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(1), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(1), 2 * i + 1)
        )
    z = li.select(x.alias("x"), y.alias("y"), zval.alias("zval"))
    return (
        z.groupBy(F.shiftright("zval", 10).cast("int").alias("zbucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("x").cast("bigint").alias("x_min"),
            F.max("x").cast("bigint").alias("x_max"),
            F.min("y").cast("bigint").alias("y_min"),
            F.max("y").cast("bigint").alias("y_max"),
        )
        .orderBy("zbucket")
    )


@query(
    "q140_table_checksum",
    oracle="""
WITH hashed AS (
  SELECT source,
         ('0x' || substr(md5(doc_id || '|' || md5(text)), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(h % 1000000007) AS BIGINT) AS checksum_sum,
       CAST(bit_xor(h) AS BIGINT) AS checksum_xor
FROM hashed
GROUP BY source
ORDER BY source
""",
    tags=("versioning", "audit"),
)
def q140_table_checksum(spark, sf_dir):
    """Order-independent per-shard content checksum — the audit
    primitive for verifying a migration / replication / engine swap
    moved every row intact, without ever sorting or transferring the
    data: each row reduces to a 60-bit digest of its canonical string
    (engine-portable md5, not engine-specific hash), and the shard
    checksum is the commutative pair (modular sum, xor), so any row
    mutation, loss, or duplication flips it. One map-side-combined
    aggregate per shard; the 100 TB cost is a single scan, and two
    tables can be compared by exchanging only their checksum rows."""
    d = table(spark, sf_dir, "documents")
    h = md5_bits(F.concat_ws("|", F.col("doc_id").cast("string"), F.md5("text")), 15)
    return (
        d.select("source", h.alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("h") % 1000000007).cast("bigint").alias("checksum_sum"),
            F.bit_xor("h").cast("bigint").alias("checksum_xor"),
        )
        .orderBy("source")
    )


@query(
    "q150_skipping_index",
    oracle="""
WITH stats AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS shard_month,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(round(MIN(l_quantity)) AS BIGINT) AS qty_min,
         CAST(round(MAX(l_quantity)) AS BIGINT) AS qty_max,
         CAST(round(MIN(l_extendedprice) * 100.0) AS BIGINT) AS price_min_cents,
         CAST(round(MAX(l_extendedprice) * 100.0) AS BIGINT) AS price_max_cents
  FROM lineitem
  GROUP BY shard_month
)
SELECT shard_month, n_rows, qty_min, qty_max,
       price_min_cents, price_max_cents,
       CAST(qty_max < 45 OR qty_min > 50 AS INT) AS skip_q45_50
FROM stats
ORDER BY shard_month
""",
    tags=("versioning", "layout"),
)
def q150_skipping_index(spark, sf_dir):
    """File-skipping statistics index — the min/max/count zone-map a
    lakehouse (Delta/Iceberg/parquet row groups) keeps per data file.
    Shards are shipdate months (the natural ingest partitioning); one
    map-side-combined aggregate computes each shard's envelope, and the
    skip flag evaluates the predicate `l_quantity BETWEEN 45 AND 50`
    against the envelope alone — the exact pruning decision the scan
    planner makes without opening the file. Envelopes are fixed-point
    BIGINT so both engines agree exactly; the stats relation is
    shard-count-sized, i.e. broadcastable back to any planner."""
    li = table(spark, sf_dir, "lineitem")
    stats = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("shard_month")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.min("l_quantity"), 0).cast("bigint").alias("qty_min"),
        F.round(F.max("l_quantity"), 0).cast("bigint").alias("qty_max"),
        money(F.min("l_extendedprice")).alias("price_min_cents"),
        money(F.max("l_extendedprice")).alias("price_max_cents"),
    )
    return stats.select(
        "shard_month",
        "n_rows",
        "qty_min",
        "qty_max",
        "price_min_cents",
        "price_max_cents",
        ((F.col("qty_max") < 45) | (F.col("qty_min") > 50))
        .cast("int")
        .alias("skip_q45_50"),
    ).orderBy("shard_month")


@query(
    "q154_referential_integrity",
    oracle="""
SELECT 'orders->customer' AS fk,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_child,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT)
UNION ALL
SELECT 'lineitem->part',
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part p
                               WHERE p.p_partkey = l.l_partkey))
            AS BIGINT)
ORDER BY fk
""",
    tags=("versioning", "quality"),
)
def q154_referential_integrity(spark, sf_dir):
    """Foreign-key integrity audit across the star schema: for each FK
    edge, count child rows whose key has no parent — the constraint
    check a lakehouse runs post-ingest (Spark enforces no FKs, so this
    IS the enforcement). Each edge is one LEFT join against the parent
    key set counted in a single pass — no forced broadcast: the parent
    PK set is sf-scaled, so AQE picks broadcast vs shuffle from runtime
    sizes; orphan rows would feed a quarantine sink in production. One
    declarative plan, three fact scans total, no driver-side actions."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")
    part = table(spark, sf_dir, "part")

    def audit(child, fk_name, key_col, parent, pkey_col):
        keys = parent.select(
            F.col(pkey_col).alias("__k")
        ).distinct().withColumn("__hit", F.lit(1))
        return (
            child.join(keys, child[key_col] == keys["__k"], "left")
            .agg(
                F.lit(fk_name).alias("fk"),
                F.count("*").cast("bigint").alias("n_child"),
                (F.count("*") - F.count("__hit"))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )

    return (
        audit(orders, "orders->customer", "o_custkey", cust, "c_custkey")
        .unionAll(audit(li, "lineitem->orders", "l_orderkey", orders, "o_orderkey"))
        .unionAll(audit(li, "lineitem->part", "l_partkey", part, "p_partkey"))
        .orderBy("fk")
    )


@query(
    "q155_scd2_time_travel",
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
  FROM islands GROUP BY user_id, grp, event_type
), scd AS (
  SELECT user_id, event_type, valid_from,
         lead(valid_from) OVER (PARTITION BY user_id
                                ORDER BY valid_from) AS valid_to
  FROM runs
)
SELECT user_id, event_type AS state_at_cutoff, valid_from
FROM scd
WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
ORDER BY user_id
""",
    tags=("versioning", "temporal"),
)
def q155_scd2_time_travel(spark, sf_dir):
    """Time travel over SCD Type-2 history: reconstruct every user's
    state AS OF a cutoff instant by picking the validity interval that
    contains it (valid_from <= T < valid_to, open current row = NULL
    valid_to). Builds the same gaps-and-islands interval table as q118
    (both windows share one user_id exchange), then the as-of filter is
    a map-side predicate — at 100 TB time travel costs exactly one
    partition-pruned scan of the interval table, no join. This is the
    query shape behind Delta/Iceberg VERSION AS OF on a dimension."""
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
    scd = runs.withColumn("valid_to", F.lead("valid_from").over(w2))
    cutoff = F.lit("2024-01-15 12:00:00").cast("timestamp")
    return (
        scd.filter(
            (F.col("valid_from") <= cutoff)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > cutoff))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state_at_cutoff"),
            "valid_from",
        )
        .orderBy("user_id")
    )


def _partitioned_events_path(spark, sf_dir):
    """One-time partitioned layout of events (partition column =
    event_date): the write-once / prune-every-query trade that defines
    time-series fact storage at 100 TB. mode('ignore') makes the
    layout step idempotent; readers discover partitions from the
    directory structure. The source fingerprint in the path invalidates
    the layout whenever the fixture regenerates."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = staged_path(wh, "events_part", sf_dir, "events", version=1)
    (
        table(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .mode("ignore")
        .parquet(path)
    )
    return path


@query(
    "q189_partition_pruned_scan",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
  AND CAST(ts AS DATE) <= DATE '2024-01-09'
GROUP BY event_type
ORDER BY event_type
""",
    tags=("layout", "scale-pattern"),
)
def q189_partition_pruned_scan(spark, sf_dir):
    """Static partition pruning over a date-partitioned fact layout:
    the two-day filter resolves against the partition DIRECTORY
    listing, so the scan touches 2 of ~30 partitions and the other
    ~93% of the table is never opened (PartitionFilters in the plan,
    pinned in tests/test_plans.py). This is the single biggest lever
    for time-range queries at 100 TB — the layout is written once
    (idempotent mode('ignore')) and every subsequent query prunes for
    free. The oracle runs the same filter over the unpartitioned
    table, proving layout never changes semantics."""
    path = _partitioned_events_path(spark, sf_dir)
    ev = spark.read.parquet(path)
    return (
        ev.filter(
            (F.col("event_date") >= F.lit("2024-01-08").cast("date"))
            & (F.col("event_date") <= F.lit("2024-01-09").cast("date"))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "q190_dynamic_partition_pruning",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase'
  GROUP BY d
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS nd
  FROM daily
), busy_days AS (
  SELECT d, c AS n_purchases FROM daily, tot WHERE c * nd > t
)
SELECT b.d AS event_date,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(b.n_purchases) AS n_purchases
FROM events e
JOIN busy_days b ON CAST(e.ts AS DATE) = b.d
GROUP BY b.d
ORDER BY b.d
""",
    tags=("layout", "scale-pattern", "join"),
)
def q190_dynamic_partition_pruning(spark, sf_dir):
    """Dynamic partition pruning (DPP): the partition filter is not
    known until runtime — it comes from the dimension side
    (above-average purchase days, an integer cross-multiplied filter
    that stays selective at every SF). Spark evaluates the broadcast
    dim first and injects its day set into the fact scan as a
    dynamicpruning partition filter, so only qualifying partitions of
    the date-partitioned events layout are read (pinned in
    tests/test_plans.py). This is THE star-schema scale feature: a
    selective dim filter prunes a 100 TB fact without any static
    predicate on it. The oracle is the plain join over the
    unpartitioned table."""
    path = _partitioned_events_path(spark, sf_dir)
    ev = spark.read.parquet(path)
    daily = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = daily.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("nd"),
    )
    busy = (
        daily.crossJoin(F.broadcast(tot))
        .filter(F.col("c") * F.col("nd") > F.col("t"))
        .select("d", F.col("c").alias("n_purchases"))
    )
    return (
        ev.join(F.broadcast(busy), ev.event_date == busy.d)
        .groupBy("d")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("n_purchases").alias("n_purchases"),
        )
        .select(F.col("d").alias("event_date"), "n_events", "n_purchases")
        .orderBy("event_date")
    )


@query(
    "q195_merge_upsert",
    oracle="""
WITH latest AS (
  SELECT o_custkey,
         arg_max(o_orderkey, ordk) AS last_ord,
         arg_max(o_totalprice, ordk) AS last_price
  FROM (SELECT *, CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT)
                    * 10000000000 + o_orderkey AS ordk
        FROM orders)
  GROUP BY o_custkey
), changes AS (
  SELECT o_custkey AS key,
         CASE WHEN last_ord % 13 = 0 THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(last_price * 100.0, 0) AS BIGINT) AS amount_cents
  FROM latest
  UNION ALL
  SELECT o_custkey + 1000000, 'I',
         CAST(ROUND(last_price * 100.0, 0) AS BIGINT)
  FROM latest WHERE last_ord % 11 = 0
), merged AS (
  SELECT b.c_custkey AS key, b.c_mktsegment AS segment,
         CASE WHEN c.op = 'U' THEN c.amount_cents
              ELSE CAST(ROUND(b.c_acctbal * 100.0, 0) AS BIGINT)
         END AS bal_cents
  FROM customer b LEFT JOIN changes c ON c.key = b.c_custkey
  WHERE c.op IS NULL OR c.op <> 'D'
  UNION ALL
  SELECT key, 'NEW', amount_cents FROM changes WHERE op = 'I'
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(bal_cents) AS BIGINT) AS bal_cents
FROM merged
GROUP BY segment
ORDER BY segment
""",
    tags=("versioning", "join"),
)
def q195_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics (WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
    WHEN NOT MATCHED INSERT) expressed relationally — the upsert-apply
    step of a lakehouse change feed, without a table format.

    A deterministic change feed derives from orders (latest order per
    customer via max_by over the (date, key) tuple; key % rules pick the
    op), then one LEFT join of the base snapshot against the broadcast
    change set applies updates and deletes in a single pass and a union
    appends inserts — the standard shuffle shape a MERGE compiles to
    when the change set is dimension-sized (fact-sized change feeds
    shuffle both sides on the key instead; same plan, minus the
    broadcast). Summarized per segment in integer cents."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")

    # single composite BIGINT recency key (yyyymmdd * 1e10 + orderkey):
    # DuckDB's arg_max has no tuple-key overload, and the composite is
    # total-ordered the same way in both engines
    tup = F.date_format("o_orderdate", "yyyyMMdd").cast("bigint") * F.lit(
        10000000000
    ) + F.col("o_orderkey")
    latest = orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", tup).alias("last_ord"),
        F.max_by("o_totalprice", tup).alias("last_price"),
    )
    amount = money("last_price")
    changes = (
        latest.select(
            F.col("o_custkey").alias("key"),
            F.when(F.col("last_ord") % 13 == 0, "D").otherwise("U").alias("op"),
            amount.alias("amount_cents"),
        )
        .unionAll(
            latest.filter(F.col("last_ord") % 11 == 0).select(
                (F.col("o_custkey") + 1000000).alias("key"),
                F.lit("I").alias("op"),
                amount.alias("amount_cents"),
            )
        )
        .localCheckpoint(eager=False)
    )
    upserts = changes.filter(F.col("op") != "I")
    merged = (
        cust.join(F.broadcast(upserts), cust.c_custkey == upserts.key, "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_mktsegment").alias("segment"),
            F.when(
                F.col("op") == "U", F.col("amount_cents")
            )
            .otherwise(money("c_acctbal"))
            .alias("bal_cents"),
        )
        .unionAll(
            changes.filter(F.col("op") == "I").select(
                "key", F.lit("NEW").alias("segment"),
                F.col("amount_cents").alias("bal_cents"),
            )
        )
    )
    return (
        merged.groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("bal_cents").cast("bigint").alias("bal_cents"),
        )
        .orderBy("segment")
    )


@query(
    "q241_fifo_allocation",
    oracle="""
WITH lots AS (
  SELECT l_partkey,
         CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT) AS qty_cents,
         CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT)) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber,
                    CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT)
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
           AS cum_before,
         CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT)) OVER (
           PARTITION BY l_partkey) AS BIGINT) AS total_cents
  FROM lineitem
), alloc AS (
  SELECT l_partkey, qty_cents, total_cents,
         CAST(total_cents * 3 // 10 AS BIGINT) AS demand_cents,
         GREATEST(CAST(0 AS BIGINT),
                  LEAST(qty_cents,
                        CAST(total_cents * 3 // 10 AS BIGINT)
                        - COALESCE(cum_before, 0))) AS alloc_cents
  FROM lots
)
SELECT l_partkey,
       CAST(COUNT(*) AS BIGINT) AS n_lots,
       CAST(MIN(demand_cents) AS BIGINT) AS demand_cents,
       CAST(SUM(alloc_cents) AS BIGINT) AS alloc_cents,
       CAST(SUM(CASE WHEN alloc_cents = qty_cents AND qty_cents > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
       CAST(SUM(CASE WHEN alloc_cents > 0 AND alloc_cents < qty_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
       CAST(SUM(CASE WHEN alloc_cents = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_untouched
FROM alloc
GROUP BY l_partkey
ORDER BY l_partkey
""",
    tags=("versioning", "allocation"),
)
def q241_fifo_allocation(spark, sf_dir):
    """FIFO lot allocation (the inventory-costing / order-matching
    shape): each part's demand — 30% of its total supplied quantity,
    integer-floored — consumes its supply lots in ship-date order;
    every lot gets clamp(demand - consumed_before, 0, lot_qty). The
    sequential "consume until exhausted" loop is NOT a loop: it's one
    exclusive-prefix window sum per part plus a per-row clamp, so the
    whole allocation runs in a single shuffle on the part key with
    codegen arithmetic — the gaps-and-islands trick applied to
    quantity mass instead of time. Quantities are fixed-point cents;
    the per-part demand and both window sums are exact BIGINTs, so
    full/partial/untouched lot classification is engine-exact. The
    oracle mirrors the identical window formulation. Duplicate natural
    keys (a fixture hazard) are harmless: identical rows swap places
    in the tie order but produce the same per-part aggregate."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    qty = money("l_quantity")
    base = li.select(
        "l_partkey",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        qty.alias("qty_cents"),
    )
    w_ord = (
        Window.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "qty_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("l_partkey")
    lots = base.select(
        "l_partkey",
        "qty_cents",
        F.sum("qty_cents").over(w_ord).cast("bigint").alias("cum_before"),
        F.sum("qty_cents").over(w_all).cast("bigint").alias("total_cents"),
    )
    demand = F.expr("total_cents * 3 div 10").cast("bigint")
    alloc = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.col("qty_cents"),
            demand - F.coalesce(F.col("cum_before"), F.lit(0)),
        ),
    )
    scored = lots.select(
        "l_partkey",
        "qty_cents",
        demand.alias("demand_cents"),
        alloc.alias("alloc_cents"),
    )
    return (
        scored.groupBy("l_partkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lots"),
            F.min("demand_cents").cast("bigint").alias("demand_cents"),
            F.sum("alloc_cents").cast("bigint").alias("alloc_cents"),
            F.sum(
                (
                    (F.col("alloc_cents") == F.col("qty_cents"))
                    & (F.col("qty_cents") > 0)
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_full"),
            F.sum(
                (
                    (F.col("alloc_cents") > 0)
                    & (F.col("alloc_cents") < F.col("qty_cents"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_partial"),
            F.sum((F.col("alloc_cents") == 0).cast("int"))
            .cast("bigint")
            .alias("n_untouched"),
        )
        .orderBy("l_partkey")
    )


_MERKLE_BUCKETS = 64


@query(
    "q252_merkle_range_diff",
    oracle=f"""
WITH replica_a AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders
), replica_b AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 997 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_totalprice
  FROM orders
  WHERE o_orderkey % 9973 != 0
), ha AS (
  SELECT CAST(o_orderkey % {_MERKLE_BUCKETS} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_a,
         CAST(BIT_XOR(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS VARCHAR)
           ), 1, 15))::BIGINT) AS BIGINT) AS sum_a
  FROM replica_a GROUP BY bucket
), hb AS (
  SELECT CAST(o_orderkey % {_MERKLE_BUCKETS} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(BIT_XOR(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             CAST(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS VARCHAR)
           ), 1, 15))::BIGINT) AS BIGINT) AS sum_b
  FROM replica_b GROUP BY bucket
)
SELECT COALESCE(ha.bucket, hb.bucket) AS bucket,
       CAST(COALESCE(n_a, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(n_b, 0) AS BIGINT) AS n_b,
       CAST(CASE WHEN COALESCE(sum_a, 0) != COALESCE(sum_b, 0)
                 OR COALESCE(n_a, 0) != COALESCE(n_b, 0)
            THEN 1 ELSE 0 END AS INT) AS divergent
FROM ha FULL OUTER JOIN hb ON hb.bucket = ha.bucket
ORDER BY bucket
""",
    tags=("versioning", "integrity"),
)
def q252_merkle_range_diff(spark, sf_dir):
    """Anti-entropy range reconciliation (the Merkle-tree sweep Cassandra
    and replicated lakes run): two replicas of the orders table — the
    second with deterministic injected drift (one mutated status per
    ~1k keys, one deleted row per ~10k) — reduce to per-key-range
    fingerprints (row count + XOR of md5-derived row hashes —
    order-independent, overflow-free under ANSI arithmetic; the count
    column catches the even-multiplicity edits XOR alone would cancel),
    and only ranges whose fingerprints disagree are flagged for
    row-level repair. At 100 TB each replica
    ships {_MERKLE_BUCKETS} (count, sum) pairs instead of the table —
    divergence localization costs two aggregate scans and a
    {_MERKLE_BUCKETS}-row join, and the flagged buckets bound the
    expensive row-diff to 1/{_MERKLE_BUCKETS} of the keyspace per
    divergent range. q140's global checksum answers "equal?"; this
    answers "where not?"."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    replica_b = o.filter(F.col("o_orderkey") % 9973 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 997 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )

    def fingerprints(df, n_col, s_col):
        row_hash = md5_bits(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                money("o_totalprice").cast("string"),
            ),
            15,
        )
        return df.groupBy(
            (F.col("o_orderkey") % _MERKLE_BUCKETS).alias("bucket")
        ).agg(
            F.count("*").cast("bigint").alias(n_col),
            F.bit_xor(row_hash).cast("bigint").alias(s_col),
        )

    ha = fingerprints(o, "n_a", "sum_a")
    hb = fingerprints(replica_b, "n_b", "sum_b")
    divergent = (
        (
            F.coalesce(F.col("sum_a"), F.lit(0))
            != F.coalesce(F.col("sum_b"), F.lit(0))
        )
        | (
            F.coalesce(F.col("n_a"), F.lit(0))
            != F.coalesce(F.col("n_b"), F.lit(0))
        )
    ).cast("int")
    return (
        ha.join(hb, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
            divergent.alias("divergent"),
        )
        .orderBy("bucket")
    )


@query(
    "q261_partition_evolution",
    oracle="""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1997-06-01'
GROUP BY month
ORDER BY month
""",
    tags=("versioning", "layout"),
)
def q261_partition_evolution(spark, sf_dir):
    """Partition-evolution read (the Iceberg/Hive migration reality):
    history lives in an UNPARTITIONED legacy parquet layout, recent
    data in a month-partitioned layout, and one query must span both
    without rewriting history. The union read applies the same date
    predicate to both branches — on the partitioned branch it prunes
    whole directories (PartitionFilters, zero I/O for pre-cutover
    months that were re-laid-out), on the legacy branch it pushes down
    to row groups — and the aggregate is layout-agnostic. The one-time
    layout build is idempotent per fixture (a _DONE marker, the local temp dir
    standing in for object storage); at migration scale this is the
    pattern that lets a 100 TB table cut over incrementally instead of
    atomically."""
    import os
    import tempfile

    # the source fingerprint in the path invalidates the staged layout
    # whenever the fixture regenerates between rounds (q189/q190 pattern)
    base = staged_path(
        tempfile.gettempdir(), "grouper_hybrid", sf_dir, "orders", version=1
    )
    done = os.path.join(base, "_DONE")
    cutover = "1998-01-01"
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_date"),
    )
    if not os.path.exists(done):
        legacy = o.filter(F.col("o_date") < F.lit(cutover).cast("date"))
        modern = o.filter(F.col("o_date") >= F.lit(cutover).cast("date"))
        legacy.write.mode("overwrite").parquet(os.path.join(base, "legacy"))
        (
            modern.withColumn(
                "month", F.date_trunc("month", "o_date").cast("date")
            )
            .write.mode("overwrite")
            .partitionBy("month")
            .parquet(os.path.join(base, "modern"))
        )
        with open(done, "w") as fh:
            fh.write("ok\n")
    lo = F.lit("1997-06-01").cast("date")
    legacy = (
        spark.read.parquet(os.path.join(base, "legacy"))
        .filter(F.col("o_date") >= lo)
        .select("o_totalprice", "o_date")
    )
    modern = (
        spark.read.parquet(os.path.join(base, "modern"))
        .filter(F.col("o_date") >= lo)
        .select("o_totalprice", "o_date")
    )
    both = legacy.unionAll(modern)
    return (
        both.groupBy(
            F.date_trunc("month", "o_date").cast("date").alias("month")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(money("o_totalprice"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("month")
    )


@query(
    "q292_trial_balance",
    oracle="""
WITH ledger AS (
  SELECT o_orderkey AS txn_id, 'cash' AS account,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS debit_cents,
         CAST(0 AS BIGINT) AS credit_cents
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'revenue',
         CAST(0 AS BIGINT),
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'tax_payable',
         CAST(0 AS BIGINT),
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 10
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'tax_expense',
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) // 10,
         CAST(0 AS BIGINT)
  FROM orders
), per_txn AS (
  SELECT txn_id,
         CAST(SUM(debit_cents) - SUM(credit_cents) AS BIGINT) AS imbalance
  FROM ledger GROUP BY txn_id
)
SELECT l.account,
       CAST(SUM(l.debit_cents) AS BIGINT) AS debits_cents,
       CAST(SUM(l.credit_cents) AS BIGINT) AS credits_cents,
       CAST((SELECT SUM(CASE WHEN imbalance != 0 THEN 1 ELSE 0 END)
             FROM per_txn) AS BIGINT) AS n_unbalanced_txns
FROM ledger l
GROUP BY l.account
ORDER BY l.account
""",
    tags=("versioning", "finance", "integrity"),
)
def q292_trial_balance(spark, sf_dir):
    """Double-entry trial balance validation: every order posts as
    balanced journal entries (cash debit vs revenue credit, plus a
    10% tax accrual pair in exact integer division so the entry
    balances BY CONSTRUCTION in integer cents — the reason ledgers
    are integers, never floats), and the audit proves (a) per-account
    debit/credit totals for the trial balance and (b) zero transactions
    whose entries don't sum to zero — the invariant that makes a
    ledger a ledger. The per-transaction imbalance check is one
    groupBy on the journal (map-side combined); the account rollup is
    a 4-row aggregate. At 100 TB the journal is the fact table and
    this query IS the nightly close control."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    tax = F.expr(
        "CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) div 10"
    ).cast("bigint")
    zero = F.lit(0).cast("bigint")
    legs = [
        ("cash", cents, zero),
        ("revenue", zero, cents),
        ("tax_payable", zero, tax),
        ("tax_expense", tax, zero),
    ]
    ledger = None
    for account, debit, credit in legs:
        leg = o.select(
            F.col("o_orderkey").alias("txn_id"),
            F.lit(account).alias("account"),
            debit.alias("debit_cents"),
            credit.alias("credit_cents"),
        )
        ledger = leg if ledger is None else ledger.unionAll(leg)
    ledger = ledger.localCheckpoint(eager=False)
    per_txn = ledger.groupBy("txn_id").agg(
        (F.sum("debit_cents") - F.sum("credit_cents"))
        .cast("bigint")
        .alias("imbalance")
    )
    unbalanced = per_txn.agg(
        F.sum((F.col("imbalance") != 0).cast("int"))
        .cast("bigint")
        .alias("n_unbalanced_txns")
    )
    return (
        ledger.groupBy("account")
        .agg(
            F.sum("debit_cents").cast("bigint").alias("debits_cents"),
            F.sum("credit_cents").cast("bigint").alias("credits_cents"),
        )
        .crossJoin(F.broadcast(unbalanced))
        .select(
            "account", "debits_cents", "credits_cents", "n_unbalanced_txns"
        )
        .orderBy("account")
    )


@query(
    "q307_range_boundary_advisor",
    oracle="""
WITH bounds AS (
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           1.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(1 AS INT) AS part_id
  FROM orders
  UNION ALL
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           2.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(2 AS INT) AS part_id
  FROM orders
  UNION ALL
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           3.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(3 AS INT) AS part_id
  FROM orders
  UNION ALL
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           4.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(4 AS INT) AS part_id
  FROM orders
  UNION ALL
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           5.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(5 AS INT) AS part_id
  FROM orders
  UNION ALL
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           6.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(6 AS INT) AS part_id
  FROM orders
  UNION ALL
  SELECT CAST(ROUND(quantile_cont(
           CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
           7.0 / 8.0), 0) AS BIGINT) AS boundary,
         CAST(7 AS INT) AS part_id
  FROM orders
), assigned AS (
  SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS v,
         CAST(COALESCE(
           (SELECT MIN(part_id) FROM bounds b
            WHERE CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                  <= b.boundary), 8) AS INT) AS part
  FROM orders
), sizes AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM assigned GROUP BY part
), balance AS (
  SELECT CAST(MAX(n_rows) AS BIGINT) AS mx,
         CAST(MIN(n_rows) AS BIGINT) AS mn
  FROM sizes
)
SELECT s.part, s.n_rows,
       round(CAST(s.n_rows AS DOUBLE)
             / ((SELECT SUM(n_rows) FROM sizes) / 8.0), 6) AS load_r,
       round(CAST(b.mx AS DOUBLE) / b.mn, 6) AS skew_ratio_r
FROM sizes s CROSS JOIN balance b
ORDER BY s.part
""",
    tags=("versioning", "layout", "systems"),
)
def q307_range_boundary_advisor(spark, sf_dir):
    """Range-partition boundary planning — what repartitionByRange's
    sampler approximates, done exactly: 7 interior boundaries from
    exact septile percentiles of the sort key, every row assigned to
    its range, and the resulting per-partition loads with the max/min
    skew ratio — the number that predicts whether a range-partitioned
    write (or a sort-merge stage) will straggle. Perfect percentile
    boundaries still show load_r spread wherever the key has heavy
    duplicate values (ties cannot split across ranges) — exactly the
    diagnosis this advisor exists to surface before a 100 TB layout
    is committed. One percentile pass + one broadcast-range
    assignment; at lake scale the percentiles come from a sample or
    sketch and the audit shape is unchanged."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    vals = o.select(cents.alias("v"))
    bounds = vals.agg(
        *[
            F.round(F.percentile("v", F.lit(t / 8.0)), 0)
            .cast("bigint")
            .alias(f"b{t}")
            for t in range(1, 8)
        ]
    )
    assigned = vals.crossJoin(F.broadcast(bounds))
    part = F.lit(8)
    for t in range(7, 0, -1):
        part = F.when(F.col("v") <= F.col(f"b{t}"), t).otherwise(part)
    sizes = (
        assigned.select(part.cast("int").alias("part"))
        .groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    balance = sizes.agg(
        F.max("n_rows").cast("bigint").alias("mx"),
        F.min("n_rows").cast("bigint").alias("mn"),
        F.sum("n_rows").cast("bigint").alias("tot"),
    )
    return (
        sizes.crossJoin(F.broadcast(balance))
        .select(
            "part",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double")
                / (F.col("tot").cast("double") / 8.0),
                6,
            ).alias("load_r"),
            F.round(
                F.col("mx").cast("double") / F.col("mn"), 6
            ).alias("skew_ratio_r"),
        )
        .orderBy("part")
    )


@query(
    "a371_rle_layout_audit",
    oracle="""
WITH ordered AS (
  SELECT o_orderpriority AS v,
         CASE WHEN lag(o_orderpriority) OVER (ORDER BY o_orderkey)
                   IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END
           AS run_start
  FROM orders
), by_col AS (
  SELECT 'o_orderpriority' AS col,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
         CAST(SUM(run_start) AS BIGINT) AS n_runs
  FROM ordered
), ordered2 AS (
  SELECT o_orderstatus AS v,
         CASE WHEN lag(o_orderstatus) OVER (ORDER BY o_orderkey)
                   IS DISTINCT FROM o_orderstatus THEN 1 ELSE 0 END
           AS run_start
  FROM orders
), by_col2 AS (
  SELECT 'o_orderstatus' AS col,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
         CAST(SUM(run_start) AS BIGINT) AS n_runs
  FROM ordered2
)
SELECT col, n_rows, n_distinct, n_runs,
       round(CAST(n_rows AS DOUBLE) / n_runs, 6) AS avg_run_len_r,
       round(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS distinct_ratio_r
FROM (SELECT * FROM by_col UNION ALL SELECT * FROM by_col2)
ORDER BY col
""",
    tags=("storage", "layout"),
)
def a371_rle_layout_audit(spark, sf_dir):
    """Encoding-advisor audit: for candidate sort orders, how
    RLE/dictionary-friendly is each column? Run count under the
    o_orderkey physical order (lag boundary detection), distinct
    cardinality, and the derived avg-run-length / distinct-ratio — the
    two numbers that decide parquet encoding wins (long runs → RLE,
    low distinct ratio → dictionary) and whether a q129-style Z-order
    or q307 range layout is worth the rewrite. The row order is pinned
    by an explicit ORDER BY key because 'current physical order' is
    not a cross-engine (or even cross-run) invariant — the audit
    evaluates a DECLARED candidate layout. One window pass per audited
    column over the same scan; output is column-count sized."""
    o = table(spark, sf_dir, "orders")

    def audit(col):
        w = Window.orderBy("o_orderkey")
        run_start = (
            ~F.lag(col).over(w).eqNullSafe(F.col(col))
        ).cast("int")
        d = o.select(F.col(col).alias("v"), run_start.alias("run_start"))
        return d.agg(
            F.lit(col).alias("col"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.count_distinct("v").cast("bigint").alias("n_distinct"),
            F.sum("run_start").cast("bigint").alias("n_runs"),
        )

    both = audit("o_orderpriority").unionAll(audit("o_orderstatus"))
    return both.select(
        "col",
        "n_rows",
        "n_distinct",
        "n_runs",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_runs"), 6
        ).alias("avg_run_len_r"),
        F.round(
            F.col("n_distinct").cast("double") / F.col("n_rows"), 6
        ).alias("distinct_ratio_r"),
    ).orderBy("col")


@query(
    "a400_format_footprint_advisor",
    oracle=None,  # byte sizes are writer-implementation facts — rows-only
    tags=("storage", "formats", "rows_only"),
)
def a400_format_footprint_advisor(spark, sf_dir):
    """Storage-format footprint advisor — the SAME projection written as
    parquet, ORC, CSV, and JSONL, measured in actual bytes per row via
    the filesystem API (works on any Hadoop FS, not just local disk):
    the number that settles 'why is the landing zone 8× the warehouse'
    conversations and prices a format migration before running it.
    Columnar formats win on encoding+compression (a371's RLE audit
    explains WHICH columns pay); row formats pay per-value syntax
    overhead. Rows-only at the driver (byte counts are facts about
    the writer, not the data), with the parquet<CSV ordering pinned
    by a unit test. Output is 4 rows at any corpus size; staged files
    key on the fixture fingerprint."""
    import os
    import tempfile

    d = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    base = staged_path(
        tempfile.gettempdir(), "grouper_fmtadv", sf_dir, "orders", version=1
    )
    n_rows = d.count()

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    def fs_bytes(path):
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(hconf)
        return int(fs.getContentSummary(p).getLength())

    rows = []
    for fmt in ("parquet", "orc", "csv", "json"):
        path = os.path.join(base, fmt)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            w = d.coalesce(4).write.mode("overwrite")
            if fmt == "csv":
                w = w.option("header", True)
            getattr(w, fmt)(path)
        b = fs_bytes(path)
        rows.append((fmt, n_rows, b, round(b / n_rows, 2)))
    return literal_frame(
        spark,
        rows, "format string, n_rows bigint, total_bytes bigint, "
        "bytes_per_row double"
    ).orderBy("format")


@query(
    "a568_cdc_upsert_apply",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS price_cents,
         CAST(o_orderkey * 2 AS BIGINT) AS lsn,
         'upsert' AS op
  FROM orders
), changes AS (
  SELECT o_orderkey AS key, o_orderstatus AS status,
         CAST(ROUND(o_totalprice * 110.0, 0) AS BIGINT) AS price_cents,
         CAST(o_orderkey * 2 + 1 AS BIGINT) AS lsn,
         CASE WHEN o_orderkey % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op
  FROM orders
  WHERE o_orderkey % 7 = 0 OR o_orderkey % 3 = 0
), log AS (
  SELECT * FROM base UNION ALL SELECT * FROM changes
), latest AS (
  SELECT key, status, price_cents, op
  FROM (SELECT *, row_number() OVER (PARTITION BY key
                                     ORDER BY lsn DESC) AS rn
        FROM log)
  WHERE rn = 1
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_live,
       CAST(SUM(CASE WHEN price_cents
                 != (SELECT CAST(ROUND(o.o_totalprice * 100.0, 0) AS BIGINT)
                     FROM orders o WHERE o.o_orderkey = latest.key)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       CAST(SUM(price_cents) AS BIGINT) AS live_cents
FROM latest
WHERE op <> 'delete'
GROUP BY status
ORDER BY status
""",
    tags=("versioning", "cdc"),
)
def a568_cdc_upsert_apply(spark, sf_dir):
    """CDC changelog apply — last-LSN-wins upsert/delete merge, the
    batch half of every lakehouse MERGE INTO and the keyed-table twin
    of q155's SCD2 (which keeps history; this materializes current
    state): a deterministic changelog derived from orders (base
    snapshot at LSN 2k; an update wave at LSN 2k+1 repricing every
    key ≡ 0 mod 3; a delete wave tombstoning every key ≡ 0 mod 7,
    deletes taking precedence where both match) collapses to final
    state with ONE row_number window over the per-key LSN order —
    the exact plan a 100 TB compaction job runs: shuffle the log once
    on the key, keep rn = 1, drop tombstones. Output folds live rows
    per status with update counts (price differs from snapshot) and
    exact cents totals, so the hash certifies precedence, tombstone
    semantics, and arithmetic at once."""
    o = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    cents110 = F.round(F.col("o_totalprice") * 110.0, 0).cast("bigint")
    base = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("price_cents"),
        (F.col("o_orderkey") * 2).cast("bigint").alias("lsn"),
        F.lit("upsert").alias("op"),
    )
    changes = o.filter(
        (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 3 == 0)
    ).select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        cents110.alias("price_cents"),
        (F.col("o_orderkey") * 2 + 1).cast("bigint").alias("lsn"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    log = base.unionAll(changes)
    latest = (
        log.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("key").orderBy(F.col("lsn").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    snapshot = o.select(
        F.col("o_orderkey").alias("key"), cents.alias("snap_cents")
    )
    return (
        latest.filter(F.col("op") != "delete")
        .join(snapshot, "key")
        .groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_live"),
            F.sum(
                (F.col("price_cents") != F.col("snap_cents")).cast("int")
            )
            .cast("bigint")
            .alias("n_updated"),
            F.sum("price_cents").cast("bigint").alias("live_cents"),
        )
        .orderBy("status")
    )


@query(
    "a417_nextfit_binpack",
    oracle="""
WITH RECURSIVE items AS (
  SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY source, lang
), cap AS (
  SELECT CAST((SUM(bytes) + 7) // 8 AS BIGINT) AS cap FROM items
), ordered AS (
  SELECT bytes,
         CAST(row_number() OVER (ORDER BY bytes DESC, source, lang)
              AS BIGINT) AS k,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM items
), state AS (
  SELECT CAST(0 AS BIGINT) AS k, n, CAST(0 AS BIGINT) AS n_bins,
         CAST(0 AS BIGINT) AS cur_load
  FROM (SELECT DISTINCT n FROM ordered)
  UNION ALL
  SELECT s.k + 1, s.n,
         CASE WHEN s.n_bins = 0
                   OR s.cur_load + o.bytes > (SELECT cap FROM cap)
              THEN s.n_bins + 1 ELSE s.n_bins END,
         CASE WHEN s.n_bins = 0
                   OR s.cur_load + o.bytes > (SELECT cap FROM cap)
              THEN o.bytes ELSE s.cur_load + o.bytes END
  FROM state s JOIN ordered o ON o.k = s.k + 1
  WHERE s.k < s.n
)
SELECT s.n AS n_items, c.cap AS bin_capacity, s.n_bins,
       round((SELECT CAST(SUM(bytes) AS DOUBLE) FROM items)
             / (s.n_bins * c.cap), 6) AS utilization_r
FROM state s CROSS JOIN cap c
WHERE s.k = s.n
""",
    tags=("versioning", "layout"),
)
def a417_nextfit_binpack(spark, sf_dir):
    """Next-fit-decreasing bin packing of (source, lang) partition
    sizes into compaction targets — the small-files compaction PLANNER
    that completes the layout battery (a371 says how to encode, a400
    what the footprint is, q129 how to order; this says how many
    output files a compaction job should write and how full they run).
    Capacity is total/8 rounded up — sf-relative, so the plan shape is
    scale-invariant. The greedy scan is inherently sequential (bin
    state depends on every earlier item), so it folds like
    a360/a117: items sorted by size DESC with deterministic tiebreak,
    one codegen ``aggregate`` lambda threads (n_bins, cur_load), and
    the oracle runs the IDENTICAL recurrence as a RECURSIVE CTE. The
    item list is partition-count-sized — the corpus is touched only by
    the size aggregate — which is exactly why a real lakehouse
    compaction planner is cheap at 100 TB."""
    d = table(spark, sf_dir, "documents")
    items = d.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("bigint").alias("bytes")
    )
    cap = items.agg(
        ((F.sum("bytes") + 7) / 8).cast("bigint").alias("cap"),
        F.sum("bytes").cast("bigint").alias("total"),
    )
    packed = (
        items.select(F.struct(
            (-F.col("bytes")).alias("neg"), "source", "lang", "bytes"
        ).alias("s"))
        .agg(
            F.transform(
                F.sort_array(F.collect_list("s")),
                lambda s: s.getField("bytes"),
            ).alias("series")
        )
    )

    def step(acc, b):
        new_bin = (acc.getField("n_bins") == 0) | (
            acc.getField("cur_load") + b > acc.getField("cap")
        )
        return F.struct(
            F.when(new_bin, acc.getField("n_bins") + 1)
            .otherwise(acc.getField("n_bins"))
            .alias("n_bins"),
            F.when(new_bin, b)
            .otherwise(acc.getField("cur_load") + b)
            .alias("cur_load"),
            acc.getField("cap").alias("cap"),
        )

    folded = packed.join(F.broadcast(cap)).select(
        F.size("series").cast("bigint").alias("n_items"),
        F.col("cap").alias("bin_capacity"),
        F.col("total"),
        F.aggregate(
            "series",
            F.struct(
                F.lit(0).cast("bigint").alias("n_bins"),
                F.lit(0).cast("bigint").alias("cur_load"),
                F.col("cap").alias("cap"),
            ),
            step,
        ).alias("st"),
    )
    return folded.select(
        "n_items",
        "bin_capacity",
        F.col("st.n_bins").alias("n_bins"),
        F.round(
            F.col("total").cast("double")
            / (F.col("st.n_bins") * F.col("bin_capacity")),
            6,
        ).alias("utilization_r"),
    )


def _voptimal_oracle(n: int = 200, kmax: int = 6) -> str:
    """Unrolled v-optimal DP layers: E(i,k) = min_j E(j,k-1) +
    SSE(j+1,i), with SSE from prefix sums in fixed micro-units."""
    head = f"""
WITH day0 AS (
  SELECT CAST(o_orderdate AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM orders GROUP BY d ORDER BY d LIMIT {n}
), ser AS (
  SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i, y
  FROM day0
), pre0 AS (
  SELECT i,
         CAST(SUM(y) OVER (ORDER BY i) AS BIGINT) AS p1,
         CAST(SUM(y * y) OVER (ORDER BY i) AS BIGINT) AS p2
  FROM ser
), pre AS (
  SELECT i, p1, p2 FROM pre0
  UNION ALL SELECT 0, 0, 0
), nmax AS (
  SELECT CAST(MAX(i) AS BIGINT) AS n FROM pre
), sse AS MATERIALIZED (
  SELECT j.i AS j, k.i AS i,
         CAST(ROUND((CAST(k.p2 - j.p2 AS DOUBLE)
           - CAST(k.p1 - j.p1 AS DOUBLE) * (k.p1 - j.p1) / (k.i - j.i))
           * 1000000.0, 0) AS BIGINT) AS sse_micro
  FROM pre j JOIN pre k ON j.i < k.i
), e1 AS MATERIALIZED (
  SELECT i, sse_micro AS e FROM sse WHERE j = 0
)"""
    layers = []
    for k in range(2, kmax + 1):
        layers.append(f""", e{k} AS MATERIALIZED (
  SELECT s.i, CAST(MIN(p.e + s.sse_micro) AS BIGINT) AS e
  FROM e{k - 1} p JOIN sse s ON s.j = p.i
  GROUP BY s.i
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT {k} AS n_buckets, e AS total_sse_micro "
        f"FROM e{k} JOIN nmax ON i = n"
        for k in range(1, kmax + 1)
    )
    return head + "".join(layers) + f"""
SELECT n_buckets, total_sse_micro,
       total_sse_micro
         - lead(total_sse_micro) OVER (ORDER BY n_buckets)
         AS gain_vs_next_micro
FROM ({finals})
ORDER BY n_buckets"""


@query(
    "a461_voptimal_histogram",
    oracle=_voptimal_oracle(),
    tags=("versioning", "optimizer"),
)
def a461_voptimal_histogram(spark, sf_dir):
    """V-optimal histogram planning — the dynamic program every
    cost-based optimizer's statistics module rests on: for k buckets
    over the daily-volume series, the minimum total within-bucket
    SSE, E(i,k) = min_j E(j,k−1) + SSE(j+1,i). Where the equi-depth
    histogram (q120) fixes bucket POPULATIONS, v-optimal places
    boundaries where the data actually changes — the output elbow
    curve (optimal SSE for k=1..6, with the marginal gain of each
    extra bucket) is the evidence for how many buckets a column
    needs. SSE comes from exact integer prefix sums (SSE(a,b) =
    ΣY² − (ΣY)²/m, an IEEE-deterministic double fixed-pointed to
    micro BIGINTs), so every DP cell is an exact integer MIN — no
    float ordering anywhere. The O(n²) interval table and five DP
    layers are quadratic in the 200-day series, not the fact table
    (the a446/a456 scale-freedom argument); the oracle unrolls the
    same layers with MATERIALIZED CTEs."""
    o = table(spark, sf_dir, "orders")
    day = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count("*").cast("bigint").alias("y"))
        .orderBy("d")
        .limit(200)
    )
    ser = day.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("i"),
        "y",
    )
    pre0 = ser.select(
        "i",
        F.sum("y")
        .over(
            Window.orderBy("i").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("p1"),
        F.sum(F.col("y") * F.col("y"))
        .over(
            Window.orderBy("i").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .cast("bigint")
        .alias("p2"),
    )
    zero = spark.range(1).select(
        F.lit(0).cast("bigint").alias("i"),
        F.lit(0).cast("bigint").alias("p1"),
        F.lit(0).cast("bigint").alias("p2"),
    )
    pre = pre0.unionAll(zero).localCheckpoint(eager=False)
    nmax = pre.agg(F.max("i").cast("bigint").alias("n"))
    j = pre.select(
        F.col("i").alias("j"), F.col("p1").alias("pj1"), F.col("p2").alias("pj2")
    )
    k = pre.select("i", "p1", "p2")
    sse = (
        j.join(k, F.col("j") < F.col("i"))
        .select(
            "j",
            "i",
            money(
                (F.col("p2") - F.col("pj2")).cast("double")
                - (F.col("p1") - F.col("pj1")).cast("double")
                * (F.col("p1") - F.col("pj1"))
                / (F.col("i") - F.col("j")),
                6,
            )
            .alias("sse_micro"),
        )
        .localCheckpoint(eager=False)
    )
    e = sse.filter(F.col("j") == 0).select("i", F.col("sse_micro").alias("e"))
    finals = [
        e.join(nmax, e.i == nmax.n).select(
            F.lit(1).alias("n_buckets"), F.col("e").alias("total_sse_micro")
        )
    ]
    for kk in range(2, 7):
        prev = e.select(F.col("i").alias("j"), F.col("e").alias("pe"))
        e = (
            prev.join(sse, "j")
            .groupBy("i")
            .agg(
                F.min(F.col("pe") + F.col("sse_micro"))
                .cast("bigint")
                .alias("e")
            )
            .localCheckpoint(eager=False)
        )
        finals.append(
            e.join(nmax, e.i == nmax.n).select(
                F.lit(kk).alias("n_buckets"),
                F.col("e").alias("total_sse_micro"),
            )
        )
    allk = finals[0]
    for f_ in finals[1:]:
        allk = allk.unionAll(f_)
    return allk.select(
        "n_buckets",
        "total_sse_micro",
        (
            F.col("total_sse_micro")
            - F.lead("total_sse_micro").over(Window.orderBy("n_buckets"))
        ).alias("gain_vs_next_micro"),
    ).orderBy("n_buckets")
