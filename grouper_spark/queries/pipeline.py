"""End-to-end training-data pipeline: the composition a 100 TB corpus
actually runs, built entirely from this engine's operators.

quality gate → exact dedup (canonical keep) → transitive near-dup
clustering (keep one per cluster) → per-language corpus stats.

Every stage is the registered operator (q30/q33/q63 building blocks)
chained as one lazy DataFrame plan (the iterative clustering step
materializes internally via localCheckpoint); the DuckDB oracle is the
same pipeline as a single WITH RECURSIVE chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import money, token_count
from ..operators import canonicalize_exact, dedup_clusters
from ..sources import staged_path, table
from . import query
from ..operators.core import literal_frame

_MIN_TOKENS = 10
_JACCARD = 0.5


@query(
    "q64_pipeline_end2end",
    oracle=f"""
WITH RECURSIVE toksd AS (
  SELECT doc_id, lang, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
), qual AS (
  SELECT * FROM toksd WHERE n_tokens >= {_MIN_TOKENS}
), fp AS (
  SELECT doc_id, lang, text, n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
  FROM qual
), canon AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY f) AS cid FROM fp
), surv AS (
  SELECT doc_id, lang, text, n_tokens FROM canon WHERE doc_id = cid
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 2), ' ')
         )) AS shingles
  FROM surv
), ex AS (
  SELECT doc_id, len(shingles) AS sh_size, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  WHERE inter / (size_a + size_b - inter) >= {_JACCARD}
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
  WHERE inter / (size_a + size_b - inter) >= {_JACCARD}
), reach(doc, label) AS (
  SELECT doc_id, doc_id FROM surv
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
), clusters AS (
  SELECT doc, MIN(label) AS cluster_id FROM reach GROUP BY doc
), kept AS (
  SELECT s.lang, s.n_tokens
  FROM surv s JOIN clusters c ON s.doc_id = c.doc
  WHERE c.doc = c.cluster_id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM kept
GROUP BY lang
ORDER BY lang
""",
    tags=("pipeline", "dedup", "text"),
)
def q64_pipeline_end2end(spark, sf_dir):
    """The full corpus-curation pipeline over ``documents``: drop short
    docs, drop exact duplicates (keep min-id canonical), collapse
    near-dup clusters (jaccard >= 0.5, transitive) to one survivor each,
    then per-language doc/token stats on what a trainer would ingest."""
    d = table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count("text")
    )
    qual = d.filter(F.col("n_tokens") >= _MIN_TOKENS)
    # localCheckpoint: canon feeds three consumers (edge generation,
    # cluster seed labels, the final join) — without it the scan + md5 +
    # fingerprint window would execute three times
    canon = (
        canonicalize_exact(qual, "doc_id", "text")
        .filter(F.col("is_dup") == 0)
        .select("doc_id", "lang", "text", "n_tokens")
        .localCheckpoint()
    )
    clusters = dedup_clusters(canon, "doc_id", "text", threshold=_JACCARD)
    keep = clusters.filter(F.col("doc") == F.col("cluster_id")).select("doc")
    kept = canon.join(keep, canon["doc_id"] == keep["doc"])
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "q192_multiformat_federation",
    oracle="""
WITH tri AS (
  SELECT event_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, event_type, value FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM tri
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sources", "federation"),
)
def q192_multiformat_federation(spark, sf_dir):
    """Federated multi-format read: the same event slice staged once as
    parquet, once as CSV (header + explicit schema — never inference on
    a known feed), once as JSON-lines, then UNION ALL'd and aggregated.
    This is the lakehouse reality where one logical feed arrives in
    three physical formats; the aggregate over the union must equal
    exactly three copies of the source (the oracle), proving every
    format round-trips values losslessly — including the money column,
    which goes through CSV/JSON text serialization and back. Staging is
    idempotent (mode ignore); each format scan is separately
    column-pruned."""
    import os
    import tempfile

    base = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # fingerprinted path: a regenerated fixture invalidates the staging
    root = staged_path(tempfile.gettempdir(), "fed", sf_dir, "events", version=1)
    pq_dir, csv_dir, json_dir = (
        os.path.join(root, f) for f in ("pq", "csv", "json")
    )
    base.write.mode("ignore").parquet(pq_dir)
    base.write.mode("ignore").option("header", True).csv(csv_dir)
    base.write.mode("ignore").json(json_dir)

    schema = "event_id bigint, event_type string, value double"
    pq = spark.read.parquet(pq_dir)
    csv = spark.read.schema(schema).option("header", True).csv(csv_dir)
    js = spark.read.schema(schema).json(json_dir)
    tri = pq.unionByName(csv).unionByName(js)
    return (
        tri.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("event_id").cast("bigint").alias("n_distinct_ids"),
            F.sum(money("value")).cast("bigint").alias("total_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "q237_observation_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(ROUND(l_quantity * 100.0, 0) AS BIGINT))
            AS BIGINT) AS qty_cents,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
FROM lineitem WHERE l_quantity > 25.0
""",
    tags=("pipeline", "observability"),
)
def q237_observation_metrics(spark, sf_dir):
    """Pipeline instrumentation via Spark's Observation API: named
    aggregate metrics (row count, fixed-point quantity mass, key
    bounds) are attached to a pass with df.observe() and harvested
    after ONE action — the zero-extra-scan way to emit data-quality
    counters from a production job. At 100 TB this is the difference
    between "the ETL job also reports its row counts" and "a second
    full scan just for metrics": observe() piggybacks on the pass the
    job already runs (here a noop-sink write), accumulating JVM-side
    exactly like any aggregate. The harvested metrics come back as one
    driver-side row — O(metrics), never O(data) — re-wrapped as a
    DataFrame for the gate."""
    from pyspark.sql import Observation

    li = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 25.0)
    obs = Observation("q237_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(money("l_quantity"))
        .cast("bigint")
        .alias("qty_cents"),
        F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("l_orderkey").cast("bigint").alias("max_orderkey"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return literal_frame(
        spark,
        [
            (
                m["n_rows"],
                m["qty_cents"],
                m["min_orderkey"],
                m["max_orderkey"],
            )
        ],
        "n_rows bigint, qty_cents bigint, min_orderkey bigint, "
        "max_orderkey bigint",
    )


@query(
    "q310_pipeline_loss_waterfall",
    oracle="""
WITH base AS (
  SELECT doc_id, text, n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), s1 AS (
  SELECT *, CASE WHEN n_tokens >= 10 THEN 1 ELSE 0 END AS pass_quality
  FROM base
), s2 AS (
  SELECT s1.*,
         CASE WHEN pass_quality = 1 AND doc_id = MIN(doc_id) OVER (
                PARTITION BY fp, pass_quality)
              THEN 1 ELSE 0 END AS pass_dedup
  FROM s1
), s3 AS (
  SELECT s2.*,
         CASE WHEN pass_dedup = 1 AND n_chars <= 2000
              THEN 1 ELSE 0 END AS pass_length
  FROM s2
)
SELECT stage, n_in, n_out,
       CAST(n_in - n_out AS BIGINT) AS n_dropped,
       round(CAST(n_out AS DOUBLE) / n_in, 6) AS survival_r
FROM (
  SELECT 1 AS ord, 'quality_gate' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_in,
         CAST(SUM(pass_quality) AS BIGINT) AS n_out
  FROM s3
  UNION ALL
  SELECT 2, 'exact_dedup',
         CAST(SUM(pass_quality) AS BIGINT),
         CAST(SUM(pass_dedup) AS BIGINT)
  FROM s3
  UNION ALL
  SELECT 3, 'length_cap',
         CAST(SUM(pass_dedup) AS BIGINT),
         CAST(SUM(pass_length) AS BIGINT)
  FROM s3
)
ORDER BY ord
""",
    tags=("pipeline", "observability"),
)
def q310_pipeline_loss_waterfall(spark, sf_dir):
    """Pipeline loss waterfall — where did my corpus go? Each curation
    stage (quality gate, exact dedup keep-first, length cap) is
    evaluated as a FLAG COLUMN on one shared scan, so the waterfall's
    in/out/dropped/survival numbers for all stages come from a single
    aggregate over a single pass — not one job per stage, which is how
    these reports are usually (expensively) produced. The conjunctive
    flags also make the attribution exact: a doc dropped at dedup was,
    by construction, a quality survivor, so stage losses sum to the
    total loss with no double counting. The observability twin of
    q64's end-to-end pipeline: that produces the corpus, this explains
    the bill."""
    from pyspark.sql import Window

    from ..functions.text import normalized_text, token_count

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "n_chars",
        token_count("text").cast("bigint").alias("n_tokens"),
        F.md5(normalized_text("text")).alias("fp"),
    )
    pass_quality = (F.col("n_tokens") >= 10).cast("int")
    s1 = base.withColumn("pass_quality", pass_quality)
    w = Window.partitionBy("fp", "pass_quality")
    pass_dedup = (
        (F.col("pass_quality") == 1)
        & (F.col("doc_id") == F.min("doc_id").over(w))
    ).cast("int")
    s2 = s1.withColumn("pass_dedup", pass_dedup)
    pass_length = (
        (F.col("pass_dedup") == 1) & (F.col("n_chars") <= 2000)
    ).cast("int")
    s3 = s2.withColumn("pass_length", pass_length).localCheckpoint(
        eager=False
    )
    stages = [
        (1, "quality_gate", F.count("*"), F.sum("pass_quality")),
        (2, "exact_dedup", F.sum("pass_quality"), F.sum("pass_dedup")),
        (3, "length_cap", F.sum("pass_dedup"), F.sum("pass_length")),
    ]
    rows = []
    for ord_, name, n_in, n_out in stages:
        rows.append(
            s3.agg(
                F.lit(ord_).alias("ord"),
                F.lit(name).alias("stage"),
                n_in.cast("bigint").alias("n_in"),
                n_out.cast("bigint").alias("n_out"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return (
        out.select(
            "ord",
            "stage",
            "n_in",
            "n_out",
            (F.col("n_in") - F.col("n_out")).cast("bigint").alias(
                "n_dropped"
            ),
            F.round(
                F.col("n_out").cast("double") / F.col("n_in"), 6
            ).alias("survival_r"),
        )
        # Order by the stage ORDINAL exactly as the oracle does: ordering
        # by n_in would tie when a stage drops zero rows and the
        # alphabetical tiebreak could then diverge from the oracle
        # (ADVICE r3).
        .orderBy("ord")
        .drop("ord")
    )
