"""Scalar-function batteries: math, conditional, array, regexp, JSON
struct, distinct, approx-distinct.

Everything is a built-in column expression (whole-stage codegen); the
transcendental functions are rounded to 6 decimals on both sides since
libm implementations may differ in the last ulp across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import md5_bits, money
from ..sources import sf_tag, staged_path, table
from . import query


@query(
    "q43_math_fns",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05) AS disc_dev,
       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       round(sqrt(l_quantity), 6) AS qty_sqrt,
       round(exp(l_discount), 6) AS disc_exp,
       round(ln(l_extendedprice), 6) AS price_ln,
       CAST(pow(l_quantity, 2) AS BIGINT) AS qty_sq,
       l_linenumber % 3 AS line_mod
FROM lineitem
WHERE l_orderkey < 2000
ORDER BY l_orderkey, l_linenumber
""",
    tags=("functions",),
)
def q43_math_fns(spark, sf_dir):
    """Math battery: abs/ceil/floor/sqrt/exp/ln/pow/mod."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.pow("l_quantity", F.lit(2)).cast("bigint").alias("qty_sq"),
        (F.col("l_linenumber") % 3).alias("line_mod"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "q44_conditional_fns",
    oracle="""
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
       greatest(c_acctbal, 0.0) AS bal_clamped,
       least(c_acctbal, 1000.0) AS bal_capped,
       CASE WHEN c_acctbal < 0 THEN 'debtor'
            WHEN c_acctbal < 5000 THEN 'standard'
            ELSE 'premium' END AS tier,
       CAST(c_acctbal IS NULL AS INT) AS bal_is_null
FROM customer
ORDER BY c_custkey
""",
    tags=("functions",),
)
def q44_conditional_fns(spark, sf_dir):
    """Conditional battery: coalesce/nullif/greatest/least/CASE/IS NULL."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")
        ).alias("segment_masked"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_clamped"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_capped"),
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
        F.col("c_acctbal").isNull().cast("int").alias("bal_is_null"),
    ).orderBy("c_custkey")


@query(
    "q45_array_fns",
    oracle="""
SELECT vec_id,
       len(embedding) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_coord,
       CAST(embedding[-1] AS DOUBLE) AS last_coord,
       CAST(list_slice(embedding, 1, 3)[2] AS DOUBLE) AS head_mid,
       len(list_slice(embedding, 1, 3)) AS head_len,
       CAST(list_max(embedding) AS DOUBLE) AS coord_max,
       CAST(list_min(embedding) AS DOUBLE) AS coord_min
FROM embeddings
ORDER BY vec_id
""",
    tags=("functions",),
)
def q45_array_fns(spark, sf_dir):
    """Array battery: size/element_at/slice/array_max/array_min —
    raw float passthrough, bit-identical in both engines.

    The slice is exercised but surfaced as scalars (middle element +
    length): the driver's pandas canonicalizer cannot hash array-typed
    output columns, and float→string serialization differs between
    engines, so scalars are the only bit-stable way to check it."""
    e = table(spark, sf_dir, "embeddings")
    head3 = F.slice("embedding", 1, 3)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_coord"),
        F.element_at("embedding", -1).cast("double").alias("last_coord"),
        F.element_at(head3, 2).cast("double").alias("head_mid"),
        F.size(head3).alias("head_len"),
        F.array_max("embedding").cast("double").alias("coord_max"),
        F.array_min("embedding").cast("double").alias("coord_min"),
    ).orderBy("vec_id")


@query(
    "q46_regexp_fns",
    oracle="""
SELECT p_partkey,
       CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INT) AS brand_num,
       regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
       CAST(regexp_matches(p_name, '^[a-z]+ ') AS INT) AS starts_word
FROM part
ORDER BY p_partkey
""",
    tags=("functions",),
)
def q46_regexp_fns(spark, sf_dir):
    """Regexp battery: extract / replace / match."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_num"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.col("p_name").rlike(r"^[a-z]+ ").cast("int").alias("starts_word"),
    ).orderBy("p_partkey")


@query(
    "q47_json_struct",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
       length(props) AS props_len
FROM events
ORDER BY event_id
""",
    tags=("functions", "json"),
)
def q47_json_struct(spark, sf_dir):
    """Typed JSON parsing: from_json into a struct column, field access."""
    e = table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_val"),
        F.length("props").alias("props_len"),
    ).orderBy("event_id")


@query("q48_approx_distinct", oracle=None, tags=("agg", "rows_only"))
def q48_approx_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct next to the exact count — the
    sketch path for 100 TB cardinality estimation (no oracle: HLL
    implementations differ across engines by design)."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q49_distinct",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus, o_orderstatus
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
ORDER BY l_returnflag, l_linestatus, o_orderstatus
""",
    tags=("agg",),
)
def q49_distinct(spark, sf_dir):
    """DISTINCT over a join — dropDuplicates as a relational operator."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("l_returnflag", "l_linestatus", "o_orderstatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "o_orderstatus")
    )


@query(
    "q65_map_fns",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS cnt
  FROM events
  GROUP BY user_id, event_type
), sized AS (
  SELECT user_id, COUNT(*) AS map_size FROM per GROUP BY user_id
)
SELECT p.user_id, p.event_type, p.cnt, s.map_size
FROM per p JOIN sized s ON p.user_id = s.user_id
ORDER BY p.user_id, p.event_type
""",
    tags=("functions", "map"),
)
def q65_map_fns(spark, sf_dir):
    """MapType battery: per-user event_type→count maps built with
    map_from_entries, then map_size + map_entries exploded back to rows.
    The map round-trip is the operator under test; the oracle only needs
    the flattened rows."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return (
        maps.select(
            "user_id",
            F.size("m").alias("map_size"),
            F.explode(F.map_entries("m")).alias("kv"),
        )
        .select(
            "user_id",
            F.col("kv.key").alias("event_type"),
            F.col("kv.value").alias("cnt"),
            "map_size",
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "q76_agg_extras",
    oracle="""
WITH keyed AS (
  SELECT *,
         lpad(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 14, '0')
           || '-' || lpad(CAST(o_orderkey AS VARCHAR), 14, '0') AS price_key
  FROM orders
)
SELECT o_orderpriority,
       arg_min(o_orderkey, price_key) AS cheapest_order,
       arg_max(o_orderkey, price_key) AS priciest_order,
       CAST(bool_and(o_totalprice > 0) AS INT) AS all_positive,
       CAST(bool_or(o_orderstatus = 'P') AS INT) AS any_pending,
       bit_and(o_custkey) AS cust_bit_and,
       bit_or(o_custkey) AS cust_bit_or
FROM keyed
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("agg", "functions"),
)
def q76_agg_extras(spark, sf_dir):
    """Aggregate extras: arg-min/max (min_by/max_by), boolean every/any,
    bitwise AND/OR — all single-pass hash aggregates with map-side
    partials. The min_by/max_by ordering key is (price, orderkey) as a
    fixed-width string, so the extremum is UNIQUE and both engines must
    pick the same order — ties would otherwise be engine-dependent."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    price_key = F.concat(
        F.lpad(cents.cast("string"), 14, "0"),
        F.lit("-"),
        F.lpad(F.col("o_orderkey").cast("string"), 14, "0"),
    )
    o = o.withColumn("price_key", price_key)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min_by("o_orderkey", "price_key").alias("cheapest_order"),
            F.max_by("o_orderkey", "price_key").alias("priciest_order"),
            F.every(F.col("o_totalprice") > 0).cast("int").alias("all_positive"),
            F.some(F.col("o_orderstatus") == "P").cast("int").alias("any_pending"),
            F.bit_and("o_custkey").alias("cust_bit_and"),
            F.bit_or("o_custkey").alias("cust_bit_or"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q77_histogram",
    oracle="""
SELECT o_orderpriority,
       CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       CAST(MIN(ROUND(o_totalprice * 100)) AS BIGINT) AS lo_cents,
       CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT) AS hi_cents
FROM orders
GROUP BY o_orderpriority, bucket
ORDER BY o_orderpriority, bucket
""",
    tags=("agg", "histogram"),
)
def q77_histogram(spark, sf_dir):
    """Fixed-width histogram per group: floor-bucketed totals with
    bucket extrema — the distribution profile behind data-quality
    dashboards. Pure arithmetic bucketing (no UDF), one shuffle on
    (group, bucket)."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000.0).cast("bigint")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.select("o_orderpriority", bucket.alias("bucket"), cents.alias("c"))
        .groupBy("o_orderpriority", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
        )
        .orderBy("o_orderpriority", "bucket")
    )


@query(
    "q78_null_fns",
    oracle="""
SELECT c_custkey,
       coalesce(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
       CAST(c_acctbal < 0 AS INT) AS in_debt,
       ifnull(NULLIF(c_nationkey, 0), -1) AS nation_or_sentinel,
       CASE WHEN c_acctbal IS NULL THEN 'null'
            WHEN c_acctbal = 0 THEN 'zero' ELSE 'set' END AS bal_class
FROM customer
ORDER BY c_custkey
""",
    tags=("functions", "null"),
)
def q78_null_fns(spark, sf_dir):
    """Null-handling battery: coalesce / nullif / ifnull / CASE-null
    classing — the canonicalization pass before joins treat sentinel
    values as real keys."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")
        ).alias("seg_masked"),
        (F.col("c_acctbal") < 0).cast("int").alias("in_debt"),
        F.ifnull(F.nullif("c_nationkey", F.lit(0)), F.lit(-1)).alias(
            "nation_or_sentinel"
        ),
        F.when(F.col("c_acctbal").isNull(), "null")
        .when(F.col("c_acctbal") == 0, "zero")
        .otherwise("set")
        .alias("bal_class"),
    ).orderBy("c_custkey")


@query(
    "q79_posexplode",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
           AS toks
  FROM documents
  WHERE doc_id < 20
)
SELECT doc_id,
       unnest(generate_series(1, len(toks))) - 1 AS pos,
       unnest(toks) AS tok
FROM t
ORDER BY doc_id, pos
""",
    tags=("functions", "array"),
)
def q79_posexplode(spark, sf_dir):
    """Positional explode: token stream with 0-based positions — the
    lateral-unnest shape for sequence features (position-aware n-grams,
    alignment labels)."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    from ..functions.text import tokens

    return d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    ).orderBy("doc_id", "pos")


@query(
    "q186_vector_fns",
    oracle="""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
)
SELECT vec_id,
       CAST(len(e) AS INT) AS dim,
       round(list_sum(list_transform(e, x -> abs(x))), 6) AS l1,
       round(sqrt(list_dot_product(e, e)), 6) AS l2,
       round(list_max(list_transform(e, x -> abs(x))), 6) AS linf,
       round(list_sum(e) / len(e), 6) AS mean_r,
       round(e[1] / sqrt(list_dot_product(e, e)), 6) AS unit_first
FROM v
ORDER BY vec_id
LIMIT 200
""",
    tags=("functions", "similarity"),
)
def q186_vector_fns(spark, sf_dir):
    """Vector-function battery over the embedding column: L1/L2/L∞
    norms, mean, and the first coordinate of the unit-normalized
    vector — the building blocks every embedding pipeline composes
    (normalization before cosine, norm-based outlier gates). All math
    runs on float64 (the oracle casts embedding::DOUBLE[] because
    DuckDB list_* on FLOAT[] computes in float32); folds traverse the
    same array left-to-right in both engines, and every output rounds
    to 1e-6. Pure per-row codegen — no shuffle at all before the
    LIMIT."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    dot = F.aggregate(
        F.zip_with("e", "e", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    l1 = F.aggregate(
        F.transform("e", lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        e.select(
            "vec_id",
            F.size("e").alias("dim"),
            F.round(l1, 6).alias("l1"),
            F.round(F.sqrt(dot), 6).alias("l2"),
            F.round(F.array_max(F.transform("e", lambda x: F.abs(x))), 6)
            .alias("linf"),
            F.round(
                F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x)
                / F.size("e"),
                6,
            ).alias("mean_r"),
            F.round(F.element_at("e", 1) / F.sqrt(dot), 6).alias(
                "unit_first"
            ),
        )
        .orderBy("vec_id")
        .limit(200)
    )


@query(
    "q202_variant_shred",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(json_extract_string(props::JSON, '$.k')::BIGINT)
            AS BIGINT) AS sum_k,
       CAST(MIN(json_extract_string(props::JSON, '$.k')::BIGINT)
            AS BIGINT) AS min_k,
       CAST(MAX(json_extract_string(props::JSON, '$.k')::BIGINT)
            AS BIGINT) AS max_k,
       CAST(SUM(CASE WHEN json_extract_string(props::JSON, '$.missing')
                          IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_extra
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("functions", "json"),
)
def q202_variant_shred(spark, sf_dir):
    """Spark 4 VARIANT shredding: ``parse_json`` turns the JSON payload
    column into the binary semi-structured VARIANT type once (the
    open-format encoding Parquet shredding targets), then typed
    ``variant_get`` paths extract fields WITHOUT a schema declaration —
    the schema-on-read upgrade over from_json for payloads whose shape
    drifts. Missing paths yield NULL (counted per group as the drift
    audit). All extraction is codegen; one grouped aggregate."""
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get("v", "$.k", "bigint")
    missing = F.variant_get("v", "$.missing", "string")
    return (
        v.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(k).cast("bigint").alias("sum_k"),
            F.min(k).cast("bigint").alias("min_k"),
            F.max(k).cast("bigint").alias("max_k"),
            F.sum(F.when(missing.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_no_extra"),
        )
        .orderBy("event_type")
    )


@query(
    "q203_xml_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders
WHERE o_orderkey < 5000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("functions", "formats"),
)
def q203_xml_roundtrip(spark, sf_dir):
    """XML ingestion surface (Spark 4 native ``from_xml`` + xpath): the
    order header is serialized to an XML fragment per row and parsed
    BACK through a typed schema, and the aggregate runs entirely on the
    parsed struct — a lossless round-trip proof for the XML reader path
    (the federation twin of q192's CSV/JSON round trips; DuckDB has no
    XML, so the oracle states the identity the round trip must
    preserve). Status additionally re-extracted via xpath_string and
    used as the group key, so both XML access paths are exercised."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    xml = F.concat(
        F.lit("<order><key>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</key><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><cents>"),
        money("o_totalprice").cast("string"),
        F.lit("</cents></order>"),
    )
    doc = o.select(xml.alias("doc"))
    parsed = doc.select(
        F.from_xml("doc", "key BIGINT, status STRING, cents BIGINT").alias("r"),
        F.xpath_string("doc", F.lit("/order/status")).alias("status_xpath"),
    )
    return (
        parsed.groupBy(F.col("status_xpath").alias("o_orderstatus"))
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("r.cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q204_try_arithmetic",
    oracle="""
SELECT l_linenumber,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN l_discount = 0.0 THEN NULL
                     ELSE CAST(ROUND(l_extendedprice / l_discount, 0) AS BIGINT)
                END) AS BIGINT) AS sum_ratio,
       CAST(SUM(CASE WHEN l_discount = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_null,
       CAST(SUM(CASE WHEN l_quantity * 100000000000000000 >
                          9223372036854775807 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mul_overflow
FROM lineitem
GROUP BY l_linenumber
ORDER BY l_linenumber
""",
    tags=("functions",),
)
def q204_try_arithmetic(spark, sf_dir):
    """ANSI-safe ``try_*`` arithmetic battery: ``try_divide`` yields
    NULL on division by zero (never a job-killing exception under ANSI
    mode) and ``try_multiply`` yields NULL on BIGINT overflow — the
    error-as-value arithmetic a curation pipeline needs so one poisoned
    row cannot fail a 100 TB job. The oracle states the same semantics
    with explicit CASE guards; null-vs-overflow counts are aggregated
    per line number so every branch is exercised."""
    li = table(spark, sf_dir, "lineitem")
    ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
    big = F.try_multiply(
        F.col("l_quantity").cast("bigint"), F.lit(100000000000000000).cast("bigint")
    )
    return (
        li.groupBy("l_linenumber")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.round(ratio, 0).cast("bigint")).cast("bigint").alias("sum_ratio"),
            F.sum(F.when(ratio.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_div_null"),
            F.sum(F.when(big.isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_mul_overflow"),
        )
        .orderBy("l_linenumber")
    )


@query(
    "q224_malformed_csv_audit",
    oracle="""
WITH lines AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN concat(CAST(doc_id AS VARCHAR), ',"unclosed quote,',
                          lang)
              ELSE concat(CAST(doc_id AS VARCHAR), ',', lang, ',',
                          CAST(n_chars AS VARCHAR))
         END AS raw
  FROM documents
)
SELECT CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_parsed,
       CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars ELSE 0 END)
            AS BIGINT) AS sum_chars_parsed
FROM lines JOIN documents USING (doc_id)
""",
    tags=("functions", "formats"),
)
def q224_malformed_csv_audit(spark, sf_dir):
    """PERMISSIVE CSV parsing with a corrupt-record column — the
    resilience contract a 100 TB ingest needs: malformed rows (here a
    deterministic subset serialized with an unclosed quote) must land
    in ``_corrupt_record`` instead of failing the job, while
    well-formed rows parse fully. ``from_csv`` parses per-row inside
    codegen; the audit counts corrupt vs parsed and checksums a parsed
    field, which only balances if no malformed row silently
    half-parsed. The oracle rebuilds the same serialization and states
    the expected split arithmetically (DuckDB has no per-row CSV
    parser to misbehave)."""
    d = table(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(',"unclosed quote,'),
            F.col("lang"),
        ),
    ).otherwise(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            "lang",
            F.col("n_chars").cast("string"),
        )
    )
    schema = "id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
    parsed = d.select(
        F.from_csv(
            raw,
            F.lit(schema),
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("r")
    )
    return parsed.agg(
        F.sum(F.when(F.col("r._corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("r._corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_parsed"),
        F.sum(
            F.when(F.col("r._corrupt_record").isNull(), F.col("r.n_chars")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("sum_chars_parsed"),
    )


@query(
    "q226_struct_array_battery",
    oracle="""
WITH per AS (
  SELECT user_id, event_type, COUNT(*) AS cnt,
         CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
           AS v_cents
  FROM events GROUP BY user_id, event_type
), packed AS (
  SELECT user_id,
         list_sort(list({'cnt': cnt, 'event_type': event_type,
                         'v_cents': v_cents})) AS arr
  FROM per GROUP BY user_id
)
SELECT user_id,
       len(arr) AS n_types,
       arr[-1].event_type AS top_type,
       CAST(arr[-1].cnt AS BIGINT) AS top_cnt,
       CAST(arr[1].cnt AS BIGINT) AS bottom_cnt,
       CAST(list_sum(list_transform(arr, s -> s.v_cents)) AS BIGINT)
         AS total_cents
FROM packed
ORDER BY user_id
""",
    tags=("functions",),
)
def q226_struct_array_battery(spark, sf_dir):
    """Array-of-struct manipulation: per-user (count, type, value)
    structs collected and SORTED BY FIELD ORDER (count first — struct
    ordering is lexicographic by field position in both engines), then
    field access at both ends plus a transform/aggregate fold over a
    struct field. This is the collect-then-manipulate shape used for
    per-key payload assembly (q184's conversation packing) distilled
    to the array-function surface; sort_array on structs gives a
    deterministic order without a second window."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt"),
        F.sum(money("value"))
        .cast("bigint")
        .alias("v_cents"),
    )
    packed = per.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("cnt", "event_type", "v_cents"))
        ).alias("arr")
    )
    last = F.element_at("arr", -1)
    first = F.element_at("arr", 1)
    return packed.select(
        "user_id",
        F.size("arr").alias("n_types"),
        last.getField("event_type").alias("top_type"),
        last.getField("cnt").cast("bigint").alias("top_cnt"),
        first.getField("cnt").cast("bigint").alias("bottom_cnt"),
        F.aggregate(
            F.transform("arr", lambda s: s.getField("v_cents")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_cents"),
    ).orderBy("user_id")


@query(
    "q250_decimal_exact_money",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) * 100
            AS BIGINT) AS gross_cents,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))
                * CAST(l_discount AS DECIMAL(18, 2))) * 10000
            AS BIGINT) AS disc_tenthmilli
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("functions", "decimal"),
)
def q250_decimal_exact_money(spark, sf_dir):
    """DecimalType money pipeline: the engine's second exact-arithmetic
    path next to the integer-cents idiom used everywhere else. Doubles
    are cast to DECIMAL(18,2) at the scan boundary, summed under exact
    decimal semantics (Spark widens the accumulator to precision 28 —
    overflow-checked, order-independent), and the final decimals are
    re-expressed as integer cents / tenth-milli units so the output
    columns stay canonicalizer-safe BIGINTs. The product sum exercises
    decimal multiplication scale rules (2+2 -> 4 fractional digits) —
    the place naive float pipelines silently lose pennies. Same
    map-side-combined single-shuffle aggregate shape as q01."""
    li = table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            (F.sum(price) * 100).cast("bigint").alias("gross_cents"),
            (F.sum(price * disc) * 10000)
            .cast("bigint")
            .alias("disc_tenthmilli"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q251_bitmap_distinct",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_bitmap
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("functions", "sketch"),
)
def q251_bitmap_distinct(spark, sf_dir):
    """Bitmap-index distinct counting (Spark 3.5 bitmap_* family): user
    ids land in fixed 32k-bit bucket bitmaps via bitmap_construct_agg,
    bucket bitmaps OR-merge across groups, and bitmap_count reads the
    cardinality — the roaring-bitmap pattern warehouses use when ids
    are dense integers, giving EXACT distinct counts with mergeable
    O(domain/8)-byte state instead of a distinct shuffle of the raw
    rows (HLL's exact-count sibling: mergeable like a sketch, but no
    error). Two-level plan: (type, bucket) partial bitmaps map-side,
    then a per-type sum of bucket counts. The oracle states the
    semantic contract — bitmap cardinality == COUNT(DISTINCT) — which
    is exactly what the query must reproduce; the exact count rides
    along from the same pipeline as proof."""
    ev = table(spark, sf_dir, "events")
    per_bucket = ev.select(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bkt"),
        F.bitmap_bit_position(F.col("user_id")).alias("pos"),
    ).groupBy("event_type", "bkt").agg(
        F.bitmap_construct_agg(F.col("pos")).alias("bm"),
        F.count_distinct(F.col("pos")).cast("bigint").alias("nd_exact"),
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(
            F.sum(F.col("nd_exact")).cast("bigint").alias("n_users"),
            F.sum(F.bitmap_count(F.col("bm")))
            .cast("bigint")
            .alias("n_users_bitmap"),
        )
        .orderBy("event_type")
    )


@query(
    "q253_python_datasource",
    oracle="""
WITH src AS (
  SELECT t.i AS id, CAST(t.i % 16 AS BIGINT) AS bucket,
         CAST(('0x' || substr(md5('syn|' || CAST(t.i AS VARCHAR)), 1, 8))
              ::BIGINT % 100000 AS BIGINT) AS val_cents
  FROM generate_series(0, 99999) t(i)
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val_cents) AS BIGINT) AS sum_cents,
       CAST(MIN(id) AS BIGINT) AS min_id,
       CAST(MAX(id) AS BIGINT) AS max_id
FROM src GROUP BY bucket ORDER BY bucket
""",
    tags=("source", "connector"),
)
def q253_python_datasource(spark, sf_dir):
    """Custom connector surface (Spark 4 Python DataSource API): a
    registered `synthetic_series` source read through the standard
    `spark.read.format(...)` path — schema declaration, option passing,
    and REAL partition planning (8 InputPartitions, each generating its
    id range worker-side, so the source parallelizes like any file
    format and nothing funnels through the driver). Row content is a
    pure md5 function of the id, which is what makes a custom
    connector oracle-checkable: DuckDB regenerates the identical rows
    from generate_series and the aggregate must hash-match. The
    template for wrapping a feature store / internal API / simulator
    as a first-class table at cluster scale."""
    from ..sources.pydatasource import SyntheticSeriesDataSource

    # re-registering in the same session replaces the source (a WARN)
    spark.dataSource.register(SyntheticSeriesDataSource)
    src = (
        spark.read.format("synthetic_series")
        .option("n", 100000)
        .option("parts", 8)
        .load()
    )
    return (
        src.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("val_cents").cast("bigint").alias("sum_cents"),
            F.min("id").cast("bigint").alias("min_id"),
            F.max("id").cast("bigint").alias("max_id"),
        )
        .orderBy("bucket")
    )


@query(
    "q257_python_datasink",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    tags=("source", "connector", "sink"),
)
def q257_python_datasink(spark, sf_dir):
    """Custom connector WRITE path (Spark 4 Python DataSourceWriter):
    orders project through a registered `jsonl_commit` sink whose tasks
    each write a .tmp file and report it in a WriterCommitMessage; only
    the driver-side commit() renames outputs into place and publishes a
    _MANIFEST — the two-phase file-commit protocol that makes retried/
    speculative tasks invisible (a failed job leaves only .tmp litter,
    never half-visible data). The gate then reads back EXACTLY the
    manifest-listed files with an explicit schema and re-aggregates;
    hash-matching the direct oracle proves the round trip lost nothing.
    Local paths stand in for object storage in this single-host
    harness; the protocol is the portable part."""
    import os
    import shutil
    import tempfile

    from ..sources.pydatasource import JsonlCommitDataSource

    spark.dataSource.register(JsonlCommitDataSource)
    out_dir = os.path.join(
        tempfile.gettempdir(), f"grouper_jsonl_sink_{sf_tag(sf_dir)}"
    )
    shutil.rmtree(out_dir, ignore_errors=True)

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        money("o_totalprice").alias("cents"),
    )
    o.write.format("jsonl_commit").option("path", out_dir).mode(
        "append"
    ).save()

    with open(os.path.join(out_dir, "_MANIFEST")) as fh:
        committed = [
            os.path.join(out_dir, line.strip())
            for line in fh
            if line.strip()
        ]
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, cents bigint"
    ).json(committed)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q271_orc_roundtrip",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS cents
FROM orders
WHERE o_totalprice > 200000.0
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("source", "format"),
)
def q271_orc_roundtrip(spark, sf_dir):
    """ORC round-trip (the second columnar format a lake actually
    runs): orders re-encode to ORC — fixed-point cents computed at
    write time so the float column never round-trips — and the
    read-back aggregates under a selective predicate that ORC serves
    from its built-in min/max stripe statistics (PushedFilters on the
    scan, same contract as parquet; the q150 zone-map query builds
    this machinery by hand, ORC ships it). The staged copy embeds the
    source fingerprint so fixture regeneration invalidates it. Proves
    the engine is format-plural: same plan shape, same exactness, a
    different storage codec."""
    import os
    import tempfile

    path = staged_path(
        tempfile.gettempdir(), "grouper_orc", sf_dir, "orders", version=1
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            table(spark, sf_dir, "orders")
            .select(
                "o_orderpriority",
                "o_totalprice",
                money("o_totalprice").alias("cents"),
            )
            .write.mode("overwrite")
            .orc(path)
        )
    back = spark.read.orc(path).filter(F.col("o_totalprice") > 200000.0)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "a348_filter_clause_battery",
    oracle="""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(*) FILTER (WHERE l_quantity > 25.0) AS BIGINT)
         AS n_bulk,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
            FILTER (WHERE l_discount > 0.05) AS BIGINT)
         AS discounted_cents,
       CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04)
            AS BIGINT) AS n_taxed_supps,
       CAST(MIN(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
            FILTER (WHERE l_quantity > 25.0) AS BIGINT)
         AS min_bulk_cents
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("sql", "aggregate"),
)
def a348_filter_clause_battery(spark, sf_dir):
    """ANSI aggregate FILTER clause battery — conditional aggregation
    without the sum(CASE WHEN …) rewrite: count / sum / distinct-count /
    min each with its own independent predicate, evaluated in ONE
    hash-aggregate pass over the fact table (the engine keeps one
    accumulator per (aggregate, filter) pair — never one scan per
    predicate). Exercises the parser/codegen path for FILTER on plain,
    DISTINCT, and extremal aggregates; money stays integer-cents so
    every accumulator is order-independent. Identical syntax runs on
    both engines."""
    li = table(spark, sf_dir, "lineitem")
    cents = 'CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT)'
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_lines"),
            F.expr(
                "CAST(COUNT(*) FILTER (WHERE l_quantity > 25.0) AS BIGINT)"
            ).alias("n_bulk"),
            F.expr(
                f"CAST(SUM({cents}) FILTER (WHERE l_discount > 0.05)"
                " AS BIGINT)"
            ).alias("discounted_cents"),
            F.expr(
                "CAST(COUNT(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04)"
                " AS BIGINT)"
            ).alias("n_taxed_supps"),
            F.expr(
                f"CAST(MIN({cents}) FILTER (WHERE l_quantity > 25.0)"
                " AS BIGINT)"
            ).alias("min_bulk_cents"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "a349_listagg_battery",
    oracle="""
WITH supp AS (
  SELECT n.n_regionkey, n.n_name,
         CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_supp
  FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name
)
SELECT r.r_name,
       string_agg(p.n_name, ',' ORDER BY p.n_name) AS nations_csv,
       string_agg(CAST(p.n_supp AS VARCHAR), ','
                  ORDER BY p.n_supp DESC, p.n_name) AS supp_counts_csv,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM supp p JOIN region r ON r.r_regionkey = p.n_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
    tags=("sql", "aggregate"),
)
def a349_listagg_battery(spark, sf_dir):
    """LISTAGG / string_agg ordered string aggregation (SQL:2016,
    Spark 4's listagg … WITHIN GROUP, DuckDB's string_agg … ORDER BY) —
    the report-friendly "roll the group up into one CSV cell" aggregate,
    with DETERMINISTIC intra-group order (the part naive collect_list +
    array_join gets wrong under parallel merge: WITHIN GROUP sorts
    inside the aggregate, so the result is stable under any partition
    arrival order). Two orderings exercised: alphabetical and
    count-descending with a name tiebreak. Group keys are the broadcast
    dim tables; the only fact-table touch is the one supplier count
    aggregate."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    r = table(spark, sf_dir, "region")
    supp = (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_regionkey", "n_name")
        .agg(F.count("s_suppkey").cast("bigint").alias("n_supp"))
    )
    return (
        supp.join(F.broadcast(r), supp.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations_csv"),
            F.expr(
                "listagg(CAST(n_supp AS STRING), ',')"
                " WITHIN GROUP (ORDER BY n_supp DESC, n_name)"
            ).alias("supp_counts_csv"),
            F.count("*").cast("bigint").alias("n_nations"),
        )
        .orderBy("r_name")
    )


@query(
    "a369_csv_escape_roundtrip",
    oracle="""
WITH tricky AS (
  SELECT doc_id,
         'v"' || CAST(doc_id AS VARCHAR) || '",' || chr(10)
           || substr(text, 1, 20) AS payload
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(length(payload)) AS BIGINT) AS total_chars,
       CAST(bit_xor(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                    || payload), 1, 15))::BIGINT)
            AS BIGINT) AS content_hash
FROM tricky
""",
    tags=("formats", "csv"),
)
def a369_csv_escape_roundtrip(spark, sf_dir):
    """CSV quoting/escaping round-trip proof: payloads are deliberately
    hostile (embedded double quotes, the delimiter itself, and literal
    newlines), written to CSV and read back with multiLine + escaped
    quoting, and the ORDER-INDEPENDENT content hash (bit_xor of md5
    per row, the q140 checksum shape) must equal the hash the oracle
    computes straight from the source rows — a bitwise proof that the
    writer/reader pair preserved every byte, the property CSV
    pipelines silently violate first. The round-trip file is staged
    under the fixture fingerprint (regenerates with the fixtures);
    reading uses multiLine=true, which at 100 TB trades per-file
    splittability for correctness — exactly the trade the docstring
    exists to flag (prefer parquet; this query is the auditor for
    when CSV is imposed)."""
    import os
    import tempfile

    d = table(spark, sf_dir, "documents")
    tricky = d.select(
        "doc_id",
        F.concat(
            F.lit('v"'),
            F.col("doc_id").cast("string"),
            F.lit('",\n'),
            F.substring("text", 1, 20),
        ).alias("payload"),
    )
    path = staged_path(
        tempfile.gettempdir(), "grouper_csvrt", sf_dir, "documents", version=1
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            tricky.write.mode("overwrite")
            .option("header", True)
            .option("quoteAll", True)
            # Spark's CSV WRITER trims leading/trailing whitespace by
            # DEFAULT (univocity ignoreLeading/TrailingWhiteSpace=true)
            # even inside quotes — silently lossy; this query exists to
            # catch exactly this class of mangling.
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .csv(path)
        )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .schema("doc_id bigint, payload string")
        .csv(path)
    )
    h = md5_bits(F.concat(F.col("doc_id").cast("string"), F.lit("|"), "payload"), 15)
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.length("payload")).cast("bigint").alias("total_chars"),
        F.bit_xor(h).cast("bigint").alias("content_hash"),
    )


@query(
    "a384_json_group_export",
    oracle="""
WITH supp AS (
  SELECT n.n_regionkey, n.n_name,
         CAST(COUNT(s.s_suppkey) AS BIGINT) AS n_supp,
         CAST(COALESCE(SUM(CAST(ROUND(s.s_acctbal * 100.0, 0)
                                AS BIGINT)), 0) AS BIGINT) AS cents
  FROM nation n LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_regionkey, n.n_name
)
SELECT r.r_name,
       '[' || string_agg(
         json_object('nation', p.n_name, 'n_supp', p.n_supp,
                     'cents', p.cents)::VARCHAR,
         ',' ORDER BY p.n_name) || ']' AS nations_json,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM supp p JOIN region r ON r.r_regionkey = p.n_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
""",
    tags=("json", "export"),
)
def a384_json_group_export(spark, sf_dir):
    """Grouped JSON export — roll each region's nations up into ONE
    JSON-array cell (`to_json(sort_array(collect_list(struct(…))))`),
    the document-per-group shape APIs and feature stores ingest. The
    parity claim is strict: the JSON STRING hashes byte-identical
    across engines, which holds because (a) intra-group order is
    pinned by sorting on the leading struct field, (b) all values are
    strings or BIGINTs (double formatting is NOT portable — the one
    rule for exportable JSON), and (c) both engines emit compact
    `{"k":v}` formatting. Aggregation is one shuffle; array cells are
    group-sized (bounded by the dimension here — cap with slice() for
    unbounded groups)."""
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    r = table(spark, sf_dir, "region")
    supp = (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_regionkey", "n_name")
        .agg(
            F.count("s_suppkey").cast("bigint").alias("n_supp"),
            F.coalesce(
                F.sum(money("s_acctbal")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("cents"),
        )
    )
    return (
        supp.join(F.broadcast(r), supp.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.to_json(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("n_name").alias("nation"),
                            F.col("n_supp").alias("n_supp"),
                            F.col("cents").alias("cents"),
                        )
                    )
                )
            ).alias("nations_json"),
            F.count("*").cast("bigint").alias("n_nations"),
        )
        .orderBy("r_name")
    )


@query(
    "a392_binary_codec_battery",
    oracle="""
WITH enc AS (
  SELECT doc_id,
         substr(text, 1, 12) AS frag,
         to_base64(substr(text, 1, 12)::BLOB) AS b64,
         upper(hex(substr(text, 1, 12)::BLOB)) AS hx
  FROM documents
), verified AS (
  SELECT doc_id, b64, hx,
         CASE WHEN from_base64(b64)::VARCHAR = frag
               AND unhex(hx)::VARCHAR = frag THEN 1 ELSE 0 END AS ok
  FROM enc
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ok) AS BIGINT) AS n_roundtrip_ok,
       CAST(SUM(length(b64)) AS BIGINT) AS b64_chars,
       CAST(bit_xor(('0x' || substr(md5(b64 || '|' || hx), 1, 15))::BIGINT)
            AS BIGINT) AS codec_hash
FROM verified
""",
    tags=("functions", "binary"),
)
def a392_binary_codec_battery(spark, sf_dir):
    """Binary codec battery — base64 and hex ENCODE, their inverse
    decodes proven on every row (round-trip flag), and an
    order-independent checksum over the encoded forms so the oracle
    certifies byte-identical codec output across engines. The one
    portability trap is normalized explicitly: hex-digit CASE differs
    in places (upper() pins it), while base64 (RFC 4648, with
    padding) agrees byte-for-byte. All in one codegen projection +
    one aggregate; this is the plumbing under every
    binary-in-varchar column (q41's multimodal payloads, wire-format
    exports)."""
    d = table(spark, sf_dir, "documents")
    frag = F.substring("text", 1, 12)
    enc = d.select(
        "doc_id",
        frag.alias("frag"),
        F.base64(F.encode(frag, "UTF-8")).alias("b64"),
        F.upper(F.hex(F.encode(frag, "UTF-8"))).alias("hx"),
    )
    verified = enc.select(
        "b64",
        "hx",
        (
            (F.decode(F.unbase64("b64"), "UTF-8") == F.col("frag"))
            & (F.decode(F.unhex("hx"), "UTF-8") == F.col("frag"))
        )
        .cast("int")
        .alias("ok"),
    )
    h = md5_bits(F.concat("b64", F.lit("|"), "hx"), 15)
    return verified.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("ok").cast("bigint").alias("n_roundtrip_ok"),
        F.sum(F.length("b64")).cast("bigint").alias("b64_chars"),
        F.bit_xor(h).cast("bigint").alias("codec_hash"),
    )


@query(
    "a428_array_hof_battery",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ts
  FROM documents
), per_doc AS (
  SELECT source,
         CASE WHEN list_contains(ts, 'spark') THEN 1 ELSE 0 END AS has_kw,
         CASE WHEN len(list_filter(ts, t -> len(t) > 2)) = len(ts)
              THEN 1 ELSE 0 END AS all_gt2,
         CAST(len(list_filter(ts, t -> len(t) = 5)) AS BIGINT) AS n_len5,
         CAST(list_sum(list_transform(ts, t -> len(t))) AS BIGINT)
           AS sum_len,
         CAST(list_sum(list_transform(
           list_zip(ts, list_reverse(ts)),
           p -> CAST(len(p[1]) * len(p[2]) AS BIGINT))) AS BIGINT)
           AS zip_fp
  FROM toks
)
SELECT source,
       CAST(SUM(has_kw) AS BIGINT) AS n_docs_with_kw,
       CAST(SUM(all_gt2) AS BIGINT) AS n_docs_all_gt2,
       CAST(SUM(n_len5) AS BIGINT) AS total_len5_tokens,
       CAST(SUM(sum_len) AS BIGINT) AS total_token_chars,
       CAST(SUM(zip_fp) AS BIGINT) AS zip_checksum
FROM per_doc
GROUP BY source
ORDER BY source
""",
    tags=("functions", "battery"),
)
def a428_array_hof_battery(spark, sf_dir):
    """Array higher-order-function battery — exists / forall / filter
    / transform+aggregate / zip_with exercised in ONE projection over
    the token arrays and folded per source, completing the
    functions-battery coverage (map HOFs live in q65; these are the
    ARRAY lambdas a curation pipeline leans on daily). Every lambda
    stays in whole-stage codegen (no UDF), every per-doc result is an
    exact integer, and the zip_with term pairs each token with its
    mirror (length product) so element ORDER is part of the checked
    contract, not just multiset content. DuckDB's list_* family
    mirrors each construct (list_contains / list_filter /
    list_transform+list_sum / list_zip) — the oracle is the same
    algebra in the other dialect. One scan, one aggregate."""
    d = table(spark, sf_dir, "documents")
    from ..functions.text import tokens as toks_fn
    from ..operators.core import ensure_parallelism

    ts = toks_fn("text")
    per_doc = ensure_parallelism(d).select(
        "source",
        F.exists(ts, lambda t: t == "spark").cast("int").alias("has_kw"),
        F.forall(ts, lambda t: F.length(t) > 2).cast("int").alias("all_gt2"),
        F.size(F.filter(ts, lambda t: F.length(t) == 5))
        .cast("bigint")
        .alias("n_len5"),
        F.aggregate(
            F.transform(ts, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.aggregate(
            F.zip_with(
                ts,
                F.reverse(ts),
                lambda a, b: (
                    F.length(a).cast("bigint") * F.length(b)
                ),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("zip_fp"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("has_kw").cast("bigint").alias("n_docs_with_kw"),
            F.sum("all_gt2").cast("bigint").alias("n_docs_all_gt2"),
            F.sum("n_len5").cast("bigint").alias("total_len5_tokens"),
            F.sum("sum_len").cast("bigint").alias("total_token_chars"),
            F.sum("zip_fp").cast("bigint").alias("zip_checksum"),
        )
        .orderBy("source")
    )


@query(
    "a441_collation_battery",
    oracle="""
WITH mangled AS (
  SELECT CASE WHEN substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1) < '6'
              THEN upper(p_brand)
              WHEN substr(md5(CAST(p_partkey AS VARCHAR)), 1, 1) < 'b'
              THEN lower(p_brand)
              ELSE p_brand END AS brand_any
  FROM part
)
SELECT lower(brand_any) AS brand_lc,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT brand_any) AS BIGINT) AS n_case_variants
FROM mangled
GROUP BY lower(brand_any)
ORDER BY brand_lc
""",
    tags=("functions", "sql-feature"),
)
def a441_collation_battery(spark, sf_dir):
    """Spark 4 string collation: grouping under the UTF8_LCASE
    collation folds case variants into one group WITHOUT rewriting
    the expression as lower(x) — the collation rides the type, so
    every comparison, join, and hash the column flows through is
    case-insensitive, and (critically for scale) the collation-aware
    hash is computed JVM-side at shuffle time rather than via a
    normalizing projection the optimizer can't see through. Case
    variants are staged deterministically (md5(partkey) picks
    upper/lower/original per row — the skew.py CASE/md5 staging
    discipline, so the oracle re-derives identical bytes in SQL).
    The group key VALUE under a collated groupBy is whichever variant
    Spark picks first, so output normalizes it with lower() — while
    n_case_variants counts DISTINCT binary spellings inside each
    collated group from an uncollated twin column, proving binary and
    collated equality genuinely differ (3 variants vs 1 group). The
    oracle emulates with lower() grouping: same partition, same
    counts. DuckDB has no UTF8_LCASE; value-level lower() is the
    faithful cross-engine contract."""
    p = table(spark, sf_dir, "part")
    hexc = F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 1)
    mangled = p.select(
        F.when(hexc < "6", F.upper("p_brand"))
        .when(hexc < "b", F.lower("p_brand"))
        .otherwise(F.col("p_brand"))
        .alias("brand_any")
    )
    return (
        mangled.select(
            F.collate(F.col("brand_any"), "UTF8_LCASE").alias("brand_ci"),
            "brand_any",
        )
        .groupBy("brand_ci")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("brand_any")
            .cast("bigint")
            .alias("n_case_variants"),
        )
        .select(
            # strip the collation for a stable, engine-neutral value
            F.lower(F.col("brand_ci")).cast("string").alias("brand_lc"),
            "n_rows",
            "n_case_variants",
        )
        .orderBy("brand_lc")
    )
