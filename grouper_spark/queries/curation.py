"""Training-data curation batteries: eval-set decontamination,
repetition-based quality filtering (Gopher-style), deterministic hash
splits, TF-IDF keyword extraction, URL parsing, embedding quantization,
and robust outlier fencing.

These extend the reference's proc-fn batch surface (core.clj:60-83 —
"apply a function to a batch of items") to the corpus-level operations a
100 TB pretraining pipeline runs. Everything is JVM-side codegen
(split/explode/groupBy/window); the only shuffles are the per-key
aggregations, and every join is either an equi-join on a derived
posting key (decontamination) or a broadcast of a tiny stats side
(outlier fences). No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.core import ensure_parallelism
from ..functions.text import (
    md5_bits,
    money,
    normalized_text,
    token_count,
    tokens,
    word_ngrams,
    word_shingles,
)
from ..sources import table
from . import query
from ..operators.core import collect_bounded, literal_frame

_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"


@query(
    "q84_decontaminate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(
           generate_series(1, len(t) - 4),
           i -> array_to_string(list_slice(t, i, i + 4), ' ')
         )) AS grams
  FROM toks
), eval_grams AS (
  SELECT DISTINCT unnest(grams) AS g FROM sh WHERE source = 'src0'
), train AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
  FROM sh WHERE source <> 'src0'
)
SELECT t.doc_id,
       CAST(MAX(t.n_grams) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       round(COUNT(*) * 1.0 / MAX(t.n_grams), 6) AS contamination
FROM train t JOIN eval_grams e ON t.g = e.g
GROUP BY t.doc_id
ORDER BY contamination DESC, t.doc_id
LIMIT 100
""",
    tags=("curation", "dedup"),
)
def q84_decontaminate(spark, sf_dir):
    """Eval-set decontamination: for every train document (source !=
    'src0'), count distinct 5-gram overlaps with the eval corpus
    (source == 'src0') via a posting-list equi-join on the gram — never
    an all-pairs scan. At 100 TB: one shuffle to dedup the (small) eval
    gram set, one equi-join shuffle on the gram key; AQE picks broadcast
    when the eval set fits."""
    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    sh = d.select(
        "doc_id", "source", word_shingles("text", 5).alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    # both the eval-gram dedup branch and the train side consume the
    # exploded gram table — checkpoint it so the CPU-dense shingling
    # runs once, not once per branch
    ex = (
        sh.select(
            "doc_id", "source", "n_grams", F.explode_outer("grams").alias("g")
        )
        .filter(F.col("g").isNotNull())
        .localCheckpoint(eager=False)
    )
    eval_grams = ex.filter(F.col("source") == "src0").select("g").distinct()
    train = ex.filter(F.col("source") != "src0")
    hits = (
        train.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("bigint").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_hits"),
        )
    )
    return (
        hits.select(
            "doc_id",
            "n_grams",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_grams"), 6).alias("contamination"),
        )
        .orderBy(F.col("contamination").desc(), "doc_id")
        .limit(100)
    )


@query(
    "q85_repetition_quality",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
), tc AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok
), tstats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         MAX(c) AS top_tok
  FROM tc GROUP BY doc_id
), bg AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, len({_TOKS_SQL}) - 1),
           i -> array_to_string(list_slice({_TOKS_SQL}, i, i + 1), ' ')
         )) AS bigram
  FROM documents
), bc AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
), bstats AS (
  SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram
  FROM bc GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens, t.n_distinct,
       round(1.0 - t.n_distinct * 1.0 / t.n_tokens, 6) AS dup_token_frac,
       round(t.top_tok * 1.0 / t.n_tokens, 6) AS top_token_frac,
       round(b.top_bigram * 1.0 / b.n_bigrams, 6) AS top_bigram_frac,
       CAST(round(b.top_bigram * 1.0 / b.n_bigrams, 6) > 0.18
            OR round(1.0 - t.n_distinct * 1.0 / t.n_tokens, 6) > 0.6
            AS INT) AS flag_repetitive
FROM tstats t JOIN bstats b USING (doc_id)
ORDER BY t.doc_id
""",
    tags=("curation", "text"),
)
def q85_repetition_quality(spark, sf_dir):
    """Gopher-style repetition quality filters: duplicate-token fraction,
    most-frequent-token fraction, most-frequent-bigram fraction, and a
    repetition flag. Map-side-combined groupBys on (doc, gram) — no
    windows, no UDFs; flags computed from the ROUNDED fractions so both
    engines threshold identical values."""
    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    # The token branch and the bigram branch each scan+tokenize the text
    # column (two map passes). Deliberate: sharing one exploded frame
    # would need a per-doc sort shuffle (lead() window) that costs more
    # than the second columnar scan; the explode->groupBy shuffles
    # dominate either way.
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tc = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    tstats = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").alias("top_tok"),
    )
    bg = d.select("doc_id", F.explode(word_ngrams(tokens("text"), 2)).alias("bigram"))
    bc = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    bstats = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram")
    )
    dup_frac = F.round(1.0 - F.col("n_distinct") / F.col("n_tokens"), 6)
    top_tok_frac = F.round(F.col("top_tok") / F.col("n_tokens"), 6)
    top_bg_frac = F.round(F.col("top_bigram") / F.col("n_bigrams"), 6)
    return (
        tstats.join(bstats, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            dup_frac.alias("dup_token_frac"),
            top_tok_frac.alias("top_token_frac"),
            top_bg_frac.alias("top_bigram_frac"),
            ((top_bg_frac > 0.18) | (dup_frac > 0.6))
            .cast("int")
            .alias("flag_repetitive"),
        )
        .orderBy("doc_id")
    )


@query(
    "q86_hash_split",
    oracle="""
WITH assigned AS (
  SELECT doc_id, lang, n_chars,
         instr('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 12 THEN 'train'
            WHEN bucket < 14 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM assigned
GROUP BY 1
ORDER BY split
""",
    tags=("curation",),
)
def q86_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by content hash: the last hex
    nibble of md5(doc_id) buckets 0-15 → 75/12.5/12.5 split. Pure
    map-side assignment (no shuffle until the tiny per-split rollup);
    the same expression assigns identically on any cluster size, so
    splits are stable across reruns and engines."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5(F.col("doc_id").cast("string")), 32, 1),
        )
        - 1
    )
    split = (
        F.when(bucket < 12, "train").when(bucket < 14, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("split")
    )


@query(
    "q87_tfidf_keywords",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ln(n.n_docs * 1.0 / df.df) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 6) DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS tfidf
FROM ranked
WHERE rk <= 3
ORDER BY doc_id, tfidf DESC, term
""",
    tags=("curation", "text"),
)
def q87_tfidf_keywords(spark, sf_dir):
    """TF-IDF keyword extraction: top-3 terms per document. The corpus
    size reaches the scorer as a broadcast 1-row aggregate (no
    driver-side count()), document frequency is one map-side-combined
    groupBy, ranking a per-doc window — three shuffles total, all on
    bounded keys."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    # rank on the ROUNDED score: distinct (tf, df) combos can produce
    # mathematically equal scores (tf·ln(N/df) coincidences) that differ
    # by 1 ulp between JVM log and DuckDB ln — raw-float ranking would
    # then disagree at the rk=3 boundary
    w = Window.partitionBy("doc_id").orderBy(F.round("score", 6).desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 6).alias("tfidf"),
        )
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


@query(
    "q88_url_parse",
    oracle="""
WITH urls AS (
  SELECT doc_id,
         concat('https://', source, '.example.com/docs/', lang, '/',
                CAST(doc_id AS VARCHAR), '?ref=', source, '&id=',
                CAST(doc_id AS VARCHAR)) AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_extract(url, 'https://([^/?#]+)', 1) AS host,
       regexp_extract(url, 'https://[^/?#]+([^?#]*)', 1) AS path,
       regexp_extract(url, '\\?(.*)$', 1) AS query,
       regexp_extract(url, '[?&]ref=([^&]*)', 1) AS ref_param,
       regexp_extract(regexp_extract(url, 'https://([^/?#]+)', 1),
                      '([^.]+\\.[^.]+)$', 1) AS domain
FROM urls
ORDER BY doc_id
""",
    tags=("curation", "text"),
)
def q88_url_parse(spark, sf_dir):
    """URL parsing battery over synthesized per-doc URLs: host, path,
    query string, a single query parameter, and the registrable domain.
    Spark's `parse_url` runs JVM-side; the oracle mirrors it with
    regexps. A crawl-curation pipeline uses exactly this to group by
    domain and dedup by canonical URL."""
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("source"),
        F.lit("&id="),
        F.col("doc_id").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    host = F.parse_url("url", F.lit("HOST"))
    return u.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1).alias("domain"),
    ).orderBy("doc_id")


@query(
    "q89_embedding_quantize",
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id, label, v,
         len(v) AS dim,
         list_min(v) AS lo,
         (list_max(v) - list_min(v)) / 255.0 AS scale
  FROM e
), err AS (
  SELECT vec_id, label, dim, lo, scale,
         CASE WHEN scale = 0 THEN 0
              ELSE list_sum(list_transform(v, x ->
                CAST(round((x - (lo + round((x - lo) / scale) * scale))
                           * (x - (lo + round((x - lo) / scale) * scale))
                           * 1000000000000.0) AS BIGINT)))
         END AS sse_fp
  FROM q
)
SELECT vec_id, label, CAST(dim AS BIGINT) AS dim,
       round(scale, 6) AS scale_r,
       round(CAST(sse_fp AS DOUBLE) / 1000000000000.0 / dim, 9) AS mse
FROM err
ORDER BY vec_id
""",
    tags=("curation", "similarity"),
)
def q89_embedding_quantize(spark, sf_dir):
    """Int8 scalar quantization round-trip error per embedding: per-vector
    min/max → 255-step scale, quantize/dequantize, mean squared error.
    Per-element squared errors are fixed-pointed to BIGINT before the
    array sum so the reduction is order-independent and exact in both
    engines — the q39 cross-engine float trick. All array work stays in
    codegen (HOFs over small per-row arrays); zero shuffles."""
    e = table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    ev = e.select("vec_id", "label", v.alias("v"))
    q = ev.select(
        "vec_id",
        "label",
        "v",
        F.size("v").alias("dim"),
        F.array_min("v").alias("lo"),
        ((F.array_max("v") - F.array_min("v")) / 255.0).alias("scale"),
    )

    def sq_err_fp(x):
        deq = F.col("lo") + F.round((x - F.col("lo")) / F.col("scale"), 0) * F.col(
            "scale"
        )
        return money((x - deq) * (x - deq), 12)

    sse = F.when(F.col("scale") == 0, F.lit(0).cast("bigint")).otherwise(
        F.aggregate(
            F.transform("v", sq_err_fp),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
    )
    return (
        q.select(
            "vec_id",
            "label",
            F.col("dim").cast("bigint").alias("dim"),
            F.round("scale", 6).alias("scale_r"),
            F.round(sse / 1000000000000.0 / F.col("dim"), 9).alias("mse"),
        )
        .orderBy("vec_id")
    )


@query(
    "q91_iqr_outliers",
    oracle="""
WITH fences AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS p25,
         quantile_cont(value, 0.75) AS p75
  FROM events GROUP BY event_type
), f AS (
  SELECT event_type,
         round(p25 - 1.5 * (p75 - p25), 6) AS lo_fence_r,
         round(p75 + 1.5 * (p75 - p25), 6) AS hi_fence_r
  FROM fences
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN e.value < f.lo_fence_r OR e.value > f.hi_fence_r
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       f.lo_fence_r, f.hi_fence_r
FROM events e JOIN f USING (event_type)
GROUP BY e.event_type, f.lo_fence_r, f.hi_fence_r
ORDER BY e.event_type
""",
    tags=("curation", "agg"),
)
def q91_iqr_outliers(spark, sf_dir):
    """Robust outlier detection: Tukey IQR fences per event type, outlier
    counts against them. Exact interpolated percentiles (cross-engine
    deterministic, unlike float mean/stddev whose summation order
    differs); the per-type fence table is tiny and broadcast back onto
    the fact scan — at 100 TB this is one percentile shuffle plus a
    map-side flagging pass."""
    ev = table(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.75)).alias("p75"),
    )
    # Fences are ROUNDED before the comparison: Spark percentile() and
    # DuckDB quantile_cont interpolate with differently-associated
    # formulas (1-ulp apart), so thresholding on the raw fence could
    # flip a point sitting exactly on it in one engine only.
    f = fences.select(
        "event_type",
        F.round(F.col("p25") - 1.5 * (F.col("p75") - F.col("p25")), 6).alias(
            "lo_fence_r"
        ),
        F.round(F.col("p75") + 1.5 * (F.col("p75") - F.col("p25")), 6).alias(
            "hi_fence_r"
        ),
    )
    joined = ev.join(F.broadcast(f), "event_type")
    is_out = (F.col("value") < F.col("lo_fence_r")) | (
        F.col("value") > F.col("hi_fence_r")
    )
    return (
        joined.groupBy("event_type", "lo_fence_r", "hi_fence_r")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(is_out.cast("int")).cast("bigint").alias("n_outliers"),
        )
        .select(
            "event_type", "n_events", "n_outliers", "lo_fence_r", "hi_fence_r"
        )
        .orderBy("event_type")
    )


@query(
    "q93_stratified_sample",
    oracle="""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 20
ORDER BY lang, rk
""",
    tags=("curation",),
)
def q93_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling: 20 docs per language, chosen by
    hash order (md5 of the key) so the sample is stable across reruns,
    engines, and cluster sizes — unlike rand()-based sampling. One
    shuffle on the stratum key; per-stratum top-k never materializes
    the full stratum (rank + filter)."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 20)
        .orderBy("lang", "rk")
    )


@query(
    "q94_domain_mix",
    oracle="""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(n_tokens) AS total_tokens, COUNT(*) AS n_sources FROM per_src
)
SELECT p.source, CAST(p.n_docs AS BIGINT) AS n_docs, p.n_tokens,
       round(p.n_tokens * 1.0 / t.total_tokens, 6) AS actual_frac,
       round((t.total_tokens * 1.0 / t.n_sources) / p.n_tokens, 6)
         AS resample_weight
FROM per_src p CROSS JOIN tot t
ORDER BY p.source
""",
    tags=("curation",),
)
def q94_domain_mix(spark, sf_dir):
    """Domain-mix rebalancing: per-source token shares and the resampling
    weight that would equalize the mix (target = uniform across sources).
    The corpus totals come back as a broadcast 1-row aggregate over the
    already-tiny per-source table — the pattern that prices a 100 TB
    re-mix without a second corpus pass."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("total_tokens"), 6).alias(
                "actual_frac"
            ),
            F.round(
                (F.col("total_tokens") / F.col("n_sources")) / F.col("n_tokens"), 6
            ).alias("resample_weight"),
        )
        .orderBy("source")
    )


@query(
    "q95_kmeans_iter",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
), dist AS (
  SELECT e.vec_id, cent.cid, e.v,
         list_sum(list_transform(range(1, len(e.v) + 1), i ->
           CAST(round((e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])
                      * 1000000000000.0) AS BIGINT))) AS d_fp
  FROM e CROSS JOIN cent
), best AS (
  SELECT vec_id, cid AS cell, v FROM (
    SELECT vec_id, cid, v,
           row_number() OVER (PARTITION BY vec_id ORDER BY d_fp, cid) AS rk
    FROM dist
  ) WHERE rk = 1
), ex AS (
  SELECT cell,
         unnest(range(1, len(v) + 1)) - 1 AS pos,
         unnest(v) AS x
  FROM best
)
SELECT cell, CAST(pos AS INT) AS pos,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(CAST(round(SUM(CAST(round(x * 1000000000.0) AS BIGINT)) * 1.0
                  / COUNT(*)) AS BIGINT) / 1000000000.0 AS DOUBLE) AS centroid
FROM ex
GROUP BY cell, pos
ORDER BY cell, pos
""",
    tags=("curation", "similarity"),
)
def q95_kmeans_iter(spark, sf_dir):
    """One Lloyd iteration of k-means (k=8, centroids seeded from the
    first 8 vectors): assign every embedding to its nearest centroid
    (broadcast the 8-row codebook — the corpus is never shuffled for
    assignment), then recompute centroids as per-dimension means.
    Distances and means are fixed-pointed to BIGINT so the reduction is
    order-independent and both engines agree bit-for-bit. Output stays
    exploded (cell, pos, centroid) — canonicalizer-safe, no array
    reassembly. Iterating this = full distributed k-means."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # the explicit limit(8) is a no-op on the filtered rows but puts a
    # GlobalLimit in the plan, proving to tools/lint_broadcast.py (and
    # to Spark) that the broadcast side is constant-size at any sf
    cent = (
        e.filter(F.col("vec_id") < 8)
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    d_fp = F.aggregate(
        F.zip_with(
            "v",
            "cv",
            lambda x, c: money((x - c) * (x - c), 12),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    dist = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", "v", d_fp.alias("d_fp")
    )
    best = (
        dist.groupBy("vec_id")
        .agg(F.min(F.struct("d_fp", "cid")).alias("m"), F.first("v").alias("v"))
        .select("vec_id", F.col("m.cid").alias("cell"), "v")
    )
    ex = best.select("cell", F.posexplode("v").alias("pos", "x"))
    return (
        ex.groupBy("cell", "pos")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            (
                F.round(
                    F.sum(money("x", 9))
                    / F.count("*"),
                    0,
                ).cast("bigint")
                / 1000000000.0
            ).alias("centroid"),
        )
        .select(
            "cell",
            F.col("pos").cast("int").alias("pos"),
            "n_members",
            "centroid",
        )
        .orderBy("cell", "pos")
    )


@query(
    "q141_temperature_sample",
    oracle="""
WITH per_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
), ps AS (
  SELECT source, n_docs,
         CAST(ROUND(sqrt(n_docs) * 1000000.0, 0) AS BIGINT) AS sqrt_fp
  FROM per_src
), tot AS (
  SELECT CAST(SUM(sqrt_fp) AS BIGINT) AS z_fp,
         CAST(SUM(n_docs) AS BIGINT) AS total_docs
  FROM ps
), fences AS (
  SELECT p.source, p.n_docs,
         least(1.0, (FLOOR(t.total_docs / 2.0) * p.sqrt_fp)
                    / (t.z_fp * p.n_docs)) AS keep_prob
  FROM ps p CROSS JOIN tot t
), coin AS (
  SELECT source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS DOUBLE) AS u
  FROM documents
)
SELECT f.source, f.n_docs,
       CAST(SUM(CASE WHEN c.u < f.keep_prob THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(f.keep_prob, 6) AS keep_prob
FROM coin c JOIN fences f USING (source)
GROUP BY f.source, f.n_docs, f.keep_prob
ORDER BY f.source
""",
    tags=("curation", "sampling"),
)
def q141_temperature_sample(spark, sf_dir):
    """Temperature resampling (α=0.5 over source sizes) actually
    APPLIED — the step after q94's weight pricing: each document flips a
    deterministic md5-uniform coin against its source's keep
    probability, so the sample is reproducible run-to-run and
    engine-to-engine (no RNG state, no seed plumbing). All thresholds
    are ratios of exact fixed-point integers, so the float comparison is
    bitwise identical in both engines. At 100 TB this is one corpus
    scan + a 20-row broadcast fence join; the per-source counts and the
    grand total are two tiny aggregates."""
    d = table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    ps = per_src.withColumn("sqrt_fp", money(F.sqrt("n_docs"), 6))
    tot = ps.agg(
        F.sum("sqrt_fp").alias("z_fp"), F.sum("n_docs").alias("total_docs")
    )
    fences = ps.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.floor(F.col("total_docs") / 2.0) * F.col("sqrt_fp"))
            / (F.col("z_fp") * F.col("n_docs")),
        ).alias("keep_prob"),
    )
    u = (md5_bits(F.col("doc_id").cast("string"), 8) / 4294967296.0)
    coin = d.select("source", u.alias("u"))
    return (
        coin.join(F.broadcast(fences), "source")
        .groupBy("source", "n_docs", "keep_prob")
        .agg(
            F.sum(F.when(F.col("u") < F.col("keep_prob"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept")
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.round("keep_prob", 6).alias("keep_prob"),
        )
        .orderBy("source")
    )


@query(
    "q147_systematic_pps_sample",
    oracle="""
WITH w AS (
  SELECT doc_id, n_chars AS wt,
         SUM(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS hi
  FROM documents
), tot AS (
  SELECT SUM(n_chars) AS t FROM documents
)
SELECT doc_id, CAST(wt AS BIGINT) AS wt,
       CAST(((hi * 25) // t) AS BIGINT) AS grid_bucket
FROM w, tot
WHERE (hi * 25) // t > ((hi - wt) * 25) // t
ORDER BY doc_id
""",
    tags=("curation", "sampling"),
)
def q147_systematic_pps_sample(spark, sf_dir):
    """Systematic probability-proportional-to-size sampling: lay every
    document's char-count weight end to end on a number line, divide the
    line into 25 equal strides, and take the document covering each
    stride boundary — deterministic weighted sampling without
    replacement, all BIGINT arithmetic (no RNG, no floats, identical in
    both engines).

    The prefix sum is the textbook two-phase distributed scan, not a
    global window: docs fall into id-range shards, stage 1 computes
    per-shard totals (map-side combine), stage 2 runs the cumsum window
    over the tiny shard-totals relation only and broadcasts the shard
    offsets back, stage 3 adds the in-shard running sum (window
    partitioned BY shard). No single-partition sort of the corpus ever
    happens — the only global ordering lives on the shard-count-sized
    side."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("wt")
    )
    d = d.withColumn("shard", (F.col("doc_id") / 64).cast("bigint"))
    shard_tot = d.groupBy("shard").agg(F.sum("wt").alias("stot"))
    w_off = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = shard_tot.withColumn(
        "off", F.coalesce(F.sum("stot").over(w_off), F.lit(0))
    ).select("shard", "off")
    tot = d.agg(F.sum("wt").alias("t"))
    w_in = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        d.join(F.broadcast(offsets), "shard")
        .withColumn("hi", F.col("off") + F.sum("wt").over(w_in))
        .crossJoin(F.broadcast(tot))
    )
    return (
        cum.filter(
            F.expr("CAST(hi * 25 AS BIGINT) DIV t")
            > F.expr("CAST((hi - wt) * 25 AS BIGINT) DIV t")
        )
        .select(
            "doc_id",
            F.col("wt").cast("bigint").alias("wt"),
            F.expr("CAST(hi * 25 AS BIGINT) DIV t").cast("bigint").alias(
                "grid_bucket"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "q174_leakage_safe_split",
    oracle="""
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS fingerprint
  FROM documents
), assigned AS (
  SELECT doc_id, n_chars, fingerprint,
         instr('0123456789abcdef', substr(md5(fingerprint), 32, 1)) - 1
           AS bucket
  FROM fp
), labeled AS (
  SELECT doc_id, n_chars, fingerprint,
         CASE WHEN bucket < 12 THEN 'train'
              WHEN bucket < 14 THEN 'val'
              ELSE 'test' END AS split
  FROM assigned
), spans AS (
  SELECT fingerprint, COUNT(DISTINCT split) AS n_splits
  FROM labeled GROUP BY fingerprint
)
SELECT l.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT l.fingerprint) AS BIGINT) AS n_clusters,
       CAST(SUM(l.n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN s.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked_docs
FROM labeled l JOIN spans s ON s.fingerprint = l.fingerprint
GROUP BY l.split
ORDER BY l.split
""",
    tags=("curation", "dedup"),
)
def q174_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: the split key is the content
    FINGERPRINT (md5 of whitespace-normalized text), not the doc id, so
    every member of an exact-dup cluster lands in the same split — the
    guard against train/test contamination that a doc_id hash split
    (q86) does not give. The audit column n_leaked_docs counts docs
    whose fingerprint spans >1 split; because split is a pure function
    of the fingerprint it is structurally zero, and the query proves it
    instead of asserting it. Assignment is map-side; the only shuffles
    are the fingerprint rollup and the tiny per-split final agg."""
    d = table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "n_chars",
        F.md5(normalized_text("text")).alias("fingerprint"),
    )
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(F.md5("fingerprint"), 32, 1),
        )
        - 1
    )
    labeled = fp.select(
        "doc_id",
        "n_chars",
        "fingerprint",
        F.when(bucket < 12, "train")
        .when(bucket < 14, "val")
        .otherwise("test")
        .alias("split"),
    )
    spans = labeled.groupBy("fingerprint").agg(
        F.countDistinct("split").alias("n_splits")
    )
    return (
        labeled.join(spans, "fingerprint")
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("fingerprint").cast("bigint").alias("n_clusters"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_leaked_docs"),
        )
        .orderBy("split")
    )


@query(
    "q180_quantile_normalization",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
), ref AS (
  SELECT rk, n,
         CAST(AVG(n_chars) AS DOUBLE) AS ref_val
  FROM ranked
  GROUP BY rk, n
)
SELECT r.doc_id, r.source, r.n_chars,
       CAST(r.rk AS BIGINT) AS rank_in_source,
       round(f.ref_val, 6) AS normalized
FROM ranked r JOIN ref f ON f.rk = r.rk AND f.n = r.n
ORDER BY r.doc_id
""",
    tags=("curation", "window"),
)
def q180_quantile_normalization(spark, sf_dir):
    """Quantile normalization across sources (the microarray/feature-
    prep recipe): rank each doc's length within its source, average the
    values at each rank across sources, and remap every doc to its
    rank's cross-source mean — after which every source has an
    identical length distribution. Two shuffles total: the per-source
    rank window and the per-rank averaging groupBy; the remap join is
    rank-keyed and dimension-sized. The rank join carries n (group
    size) so only equal-sized sources share a reference row — the
    strict form of the method. Averages of exact integers round
    identically in both engines."""
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    ref = ranked.groupBy("rk", "n").agg(
        F.avg("n_chars").cast("double").alias("ref_val")
    )
    return (
        ranked.join(ref, ["rk", "n"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("rk").cast("bigint").alias("rank_in_source"),
            F.round("ref_val", 6).alias("normalized"),
        )
        .orderBy("doc_id")
    )


@query(
    "q181_dp_noisy_counts",
    oracle="""
WITH counts AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM events
  GROUP BY event_type
), noised AS (
  SELECT event_type, true_count,
         CAST(('0x' || substr(md5('dp-seed-' || event_type), 1, 8))::BIGINT
              AS DOUBLE) / 4294967296.0 AS u
  FROM counts
)
SELECT event_type, true_count,
       CAST(round(true_count + CASE WHEN u < 0.5
                       THEN 2.0 * ln(2.0 * u)
                       ELSE -2.0 * ln(2.0 - 2.0 * u) END) AS BIGINT)
         AS released_count
FROM noised
ORDER BY event_type
""",
    tags=("curation", "privacy"),
)
def q181_dp_noisy_counts(spark, sf_dir):
    """Differentially-private count release (Laplace mechanism,
    epsilon = 0.5, sensitivity 1): per-type event counts plus Laplace
    noise drawn by inverse-CDF from a SEEDED md5 uniform, so the
    released values are deterministic and byte-identical in both
    engines — the reproducible-release discipline a DP pipeline needs
    for auditability (same seed → same noise → same publication).
    Noise scale b = sensitivity/epsilon = 2; inverse CDF is the
    two-branch log form. One map-side-combined count shuffle; the
    noise is per-group scalar arithmetic."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("true_count")
    )
    u = (
        md5_bits(F.concat(F.lit("dp-seed-"), F.col("event_type")), 8)
        .cast("double")
        / F.lit(4294967296.0)
    )
    noise = F.when(
        u < 0.5, 2.0 * F.log(2.0 * u)
    ).otherwise(-2.0 * F.log(2.0 - 2.0 * u))
    return (
        counts.select(
            "event_type",
            "true_count",
            F.round(F.col("true_count") + noise, 0)
            .cast("bigint")
            .alias("released_count"),
        )
        .orderBy("event_type")
    )


@query(
    "q183_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(ROUND(
           -ln((('0x' || substr(md5('ws-' || CAST(doc_id AS VARCHAR)), 1, 8))
                  ::BIGINT + 1.0) / 4294967297.0)
           / n_chars * 1000000000.0) AS BIGINT) AS key_nano
  FROM documents
), ranked AS (
  SELECT doc_id, source, n_chars, key_nano,
         row_number() OVER (PARTITION BY source
                            ORDER BY key_nano, doc_id) AS rk
  FROM keyed
)
SELECT source, CAST(rk AS BIGINT) AS sel_rank, doc_id, n_chars
FROM ranked
WHERE rk <= 5
ORDER BY source, sel_rank
""",
    tags=("curation", "sampling"),
)
def q183_weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    exponential-keys): per source, draw 5 docs with inclusion
    probability proportional to length by ranking on
    -ln(u)/weight with a SEEDED md5 uniform — fully deterministic, so
    the draw is reproducible across engines, reruns, and cluster
    sizes (the property grid-search data ablations need). The key is
    fixed-pointed to integer nanos before ranking so both engines
    compare identical BIGINTs (q122's ln-stability pattern). One rank
    window per source partition; no global shuffle, no rejection
    loop — the one-pass distributed form of weighted reservoir
    sampling."""
    d = table(spark, sf_dir, "documents")
    u = (
        md5_bits(F.concat(F.lit("ws-"), F.col("doc_id").cast("string")), 8)
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    key_nano = money(-F.log(u) / F.col("n_chars"), 9)
    w = Window.partitionBy("source").orderBy("key_nano", "doc_id")
    return (
        d.select("doc_id", "source", "n_chars", key_nano.alias("key_nano"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            F.col("rk").cast("bigint").alias("sel_rank"),
            "doc_id",
            "n_chars",
        )
        .orderBy("source", "sel_rank")
    )


@query(
    "q197_target_encoding",
    oracle="""
WITH c AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS price_cents,
         CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
              OVER (PARTITION BY o_orderpriority) AS BIGINT) AS seg_sum,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS seg_n
  FROM orders
)
SELECT o_orderkey, o_orderpriority, price_cents,
       round((seg_sum - price_cents) * 1.0 / (seg_n - 1) / 100.0, 4)
         AS loo_mean_r
FROM c
WHERE o_orderkey < 2000
ORDER BY o_orderkey
""",
    tags=("curation", "ml"),
)
def q197_target_encoding(spark, sf_dir):
    """Leave-one-out target encoding of a categorical column (the
    standard high-cardinality-categorical feature transform): each
    order's priority is encoded as the mean order value of its priority
    class EXCLUDING the row itself — (sum - x) / (n - 1) — which is
    what prevents target leakage in training data.

    The per-class (sum, count) statistics table is class-count sized,
    so it aggregates with one map-side-combining groupBy and BROADCASTS
    back onto the fact rows — no window over the fact table, no second
    fact shuffle (the oracle uses the window formulation; same
    semantics). All sums are integer cents; the single division is
    performed once per row on integer inputs and rounded, so the
    encoding is engine-stable."""
    orders = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    fact = orders.select("o_orderkey", "o_orderpriority", cents.alias("price_cents"))
    stats = fact.groupBy("o_orderpriority").agg(
        F.sum("price_cents").alias("seg_sum"),
        F.count("*").alias("seg_n"),
    )
    return (
        fact.join(F.broadcast(stats), "o_orderpriority")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "price_cents",
            F.round(
                (F.col("seg_sum") - F.col("price_cents"))
                * 1.0
                / (F.col("seg_n") - 1)
                / 100.0,
                4,
            ).alias("loo_mean_r"),
        )
        .orderBy("o_orderkey")
    )


_NEG_K = 4


@query(
    "q255_negative_sampling",
    oracle=f"""
WITH base AS (
  SELECT doc_id, source FROM documents
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM base
), anchors AS (
  SELECT b.doc_id, b.source, k.k, n.n_docs,
         ('0x' || substr(md5('neg|' || CAST(b.doc_id AS VARCHAR) || '|'
                              || CAST(k.k AS VARCHAR)), 1, 8))::BIGINT
           % n.n_docs AS raw_neg
  FROM base b
  CROSS JOIN (SELECT * FROM (VALUES (0), (1), (2), (3)) t(k)) k
  CROSS JOIN n
), picked AS (
  SELECT doc_id, source, CAST(k AS INT) AS k,
         CAST(CASE WHEN raw_neg = doc_id
              THEN (raw_neg + 1) % n_docs ELSE raw_neg END AS BIGINT)
           AS neg_id
  FROM anchors
)
SELECT p.doc_id, p.k, p.neg_id,
       CAST(CASE WHEN nb.source = p.source THEN 1 ELSE 0 END AS INT)
         AS is_hard
FROM picked p JOIN base nb ON nb.doc_id = p.neg_id
ORDER BY p.doc_id, p.k
""",
    tags=("curation", "sampling"),
)
def q255_negative_sampling(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: every
    anchor document draws {_NEG_K} pseudo-random negatives via
    md5(anchor, k) mod corpus-size — reproducible across reruns and
    engines (the repo's seeded-sampling idiom), with a rejection bump
    when the draw hits the anchor itself. Negatives joining back to the
    corpus on the drawn id is ONE equi-join (ids are dense here; at
    lake scale the drawn ordinal goes through the q209 two-phase global
    numbering to map ordinal -> row without a sort). The is_hard flag
    marks same-source negatives — the in-batch "hard negative" signal a
    contrastive data loader wants precomputed. Corpus touched twice
    (anchor side, negative lookup), both map-side after the broadcast
    count."""
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    base = d.localCheckpoint(eager=False)
    n = base.agg(F.count("*").cast("bigint").alias("n_docs"))
    ks = spark.range(_NEG_K).select(F.col("id").cast("int").alias("k"))
    raw = (
        base.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "source",
            "k",
            "n_docs",
            (
                md5_bits(
                    F.concat_ws(
                        "|",
                        F.lit("neg"),
                        F.col("doc_id").cast("string"),
                        F.col("k").cast("string"),
                    ),
                    8,
                )
                % F.col("n_docs")
            ).alias("raw_neg"),
        )
    )
    picked = raw.select(
        "doc_id",
        "source",
        "k",
        F.when(
            F.col("raw_neg") == F.col("doc_id"),
            (F.col("raw_neg") + 1) % F.col("n_docs"),
        )
        .otherwise(F.col("raw_neg"))
        .cast("bigint")
        .alias("neg_id"),
    )
    nb = base.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return (
        picked.join(nb, "neg_id")
        .select(
            "doc_id",
            "k",
            "neg_id",
            (F.col("neg_source") == F.col("source")).cast("int").alias(
                "is_hard"
            ),
        )
        .orderBy("doc_id", "k")
    )


_KANON_K = 5


@query(
    "q260_k_anonymity_audit",
    oracle=f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS class_size,
         CAST(COUNT(DISTINCT CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT))
              AS BIGINT) AS n_sensitive
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violating_classes,
       CAST(SUM(CASE WHEN class_size < {_KANON_K} THEN class_size ELSE 0 END)
            AS BIGINT) AS n_records_at_risk,
       CAST(MIN(class_size) AS BIGINT) AS k_anonymity,
       CAST(MIN(n_sensitive) AS BIGINT) AS l_diversity,
       CAST(SUM(class_size) AS BIGINT) AS n_records
FROM classes
""",
    tags=("curation", "privacy"),
)
def q260_k_anonymity_audit(spark, sf_dir):
    """k-anonymity / l-diversity release audit: before publishing a
    dataset keyed by quasi-identifiers (nation x market segment), how
    re-identifiable is it? k-anonymity is the SMALLEST equivalence
    class over the quasi-identifier tuple (a released row is hidden
    among at least k lookalikes); l-diversity is the minimum count of
    distinct sensitive values (account balance) within any class —
    guarding against the homogeneity attack where a class is
    k-anonymous but every member shares the secret. One
    map-side-combined groupBy builds the class table; the audit is a
    6-number summary of it, so the check costs one shuffle at any
    scale. Classes under k={_KANON_K} are counted with their record
    mass — the rows a generalization/suppression pass must fix before
    release (the q70 scrubber's statistical sibling)."""
    c = table(spark, sf_dir, "customer")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("class_size"),
        F.count_distinct(money("c_acctbal"))
        .cast("bigint")
        .alias("n_sensitive"),
    )
    small = F.col("class_size") < _KANON_K
    return classes.agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum(small.cast("int")).cast("bigint").alias("n_violating_classes"),
        F.sum(F.when(small, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("n_records_at_risk"),
        F.min("class_size").cast("bigint").alias("k_anonymity"),
        F.min("n_sensitive").cast("bigint").alias("l_diversity"),
        F.sum("class_size").cast("bigint").alias("n_records"),
    )


@query(
    "q265_dataset_datasheet",
    oracle="""
WITH base AS (
  SELECT source, lang, n_chars,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
), stats AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
         round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM base GROUP BY source
), lang_mix AS (
  SELECT source,
         CAST(SUM(term_micro) AS BIGINT) AS ent_micro
  FROM (
    SELECT source,
           CAST(ROUND(
             -1.0 * (CAST(c AS DOUBLE) / tot) * ln(CAST(c AS DOUBLE) / tot)
             * 1000000.0, 0) AS BIGINT) AS term_micro
    FROM (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(COUNT(*)) OVER (PARTITION BY source) AS BIGINT) AS tot
      FROM base GROUP BY source, lang
    )
  ) GROUP BY source
), dups AS (
  SELECT source,
         CAST(SUM(n_copies - 1) AS BIGINT) AS n_dup_docs
  FROM (
    SELECT source, fp, CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM base GROUP BY source, fp
  ) GROUP BY source
)
SELECT s.source, s.n_docs, s.n_tokens, s.n_chars,
       s.p50_chars, s.p90_chars, s.n_langs,
       round(CAST(l.ent_micro AS DOUBLE) / 1000000.0, 4) AS lang_entropy_r,
       d.n_dup_docs,
       round(CAST(d.n_dup_docs AS DOUBLE) / s.n_docs, 6) AS dup_rate_r,
       round(CAST(s.n_tokens AS DOUBLE) / s.n_docs, 4) AS tokens_per_doc_r
FROM stats s
JOIN lang_mix l ON l.source = s.source
JOIN dups d ON d.source = s.source
ORDER BY s.source
""",
    tags=("curation", "datasheet"),
)
def q265_dataset_datasheet(spark, sf_dir):
    """Dataset datasheet (the Datasheets-for-Datasets card a 100 TB
    corpus publishes with every release): per source, the volume
    numbers (docs, tokens, chars), exact length percentiles, language
    mix with its Shannon entropy (micro-ln fixed point, the q156
    recipe), and the exact-duplicate rate from normalized-text md5
    fingerprints — every number downstream consumers use to decide
    mixing weights and dedup settings, in ONE query. The corpus is
    scanned once into a slim (source, lang, lengths, fingerprint)
    projection (checkpointed), then three branch aggregates — overall
    stats, the language histogram, the fingerprint copy-count — join
    on the source key, all source-cardinality after their first
    shuffle. The exact percentile is the only sort-bearing piece;
    swap to approx_percentile when chars-per-source cardinality makes
    exactness not worth a sort at lake scale."""
    from ..functions.text import normalized_text, token_count

    d = table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        "n_chars",
        token_count("text").cast("bigint").alias("n_tokens"),
        F.md5(normalized_text("text")).alias("fp"),
    ).localCheckpoint(eager=False)
    stats = base.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
    )
    lc = base.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    from pyspark.sql import Window

    tot = F.sum("c").over(Window.partitionBy("source")).cast("bigint")
    share = F.col("c").cast("double") / F.col("tot")
    lang_mix = (
        lc.withColumn("tot", tot)
        .select(
            "source",
            money(-1.0 * share * F.log(share), 6).alias("term_micro"),
        )
        .groupBy("source")
        .agg(F.sum("term_micro").cast("bigint").alias("ent_micro"))
    )
    dups = (
        base.groupBy("source", "fp")
        .agg(F.count("*").cast("bigint").alias("n_copies"))
        .groupBy("source")
        .agg(
            F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_dup_docs")
        )
    )
    return (
        stats.join(lang_mix, "source")
        .join(dups, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "p50_chars",
            "p90_chars",
            "n_langs",
            F.round(F.col("ent_micro").cast("double") / 1000000.0, 4).alias(
                "lang_entropy_r"
            ),
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate_r"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_docs"), 4
            ).alias("tokens_per_doc_r"),
        )
        .orderBy("source")
    )


@query(
    "q267_churn_labels",
    oracle="""
WITH feat AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events_pre,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases_pre,
         CAST(DATE '2024-01-20' - CAST(MAX(ts) AS DATE) AS BIGINT)
           AS recency_days,
         CAST(SUM(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-20'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
  FROM events
  WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
  GROUP BY user_id
), labels AS (
  SELECT f.user_id, f.n_events_pre, f.n_purchases_pre, f.recency_days,
         f.n_leaks,
         CASE WHEN h.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM feat f
  LEFT JOIN (
    SELECT DISTINCT user_id FROM events
    WHERE CAST(ts AS DATE) > DATE '2024-01-20'
      AND CAST(ts AS DATE) <= DATE '2024-01-30'
      AND event_type = 'purchase'
  ) h ON h.user_id = f.user_id
)
SELECT CAST(churned AS INT) AS churned,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       round(CAST(SUM(n_events_pre) AS DOUBLE) / COUNT(*), 6)
         AS mean_events_pre_r,
       round(CAST(SUM(n_purchases_pre) AS DOUBLE) / COUNT(*), 6)
         AS mean_purchases_pre_r,
       round(CAST(SUM(recency_days) AS DOUBLE) / COUNT(*), 6)
         AS mean_recency_r,
       CAST(SUM(n_leaks) AS BIGINT) AS n_leaks
FROM labels GROUP BY churned ORDER BY churned
""",
    tags=("curation", "mlops"),
)
def q267_churn_labels(spark, sf_dir):
    """Horizon churn-label generation with an in-query leakage guard —
    the training-set build every churn model starts from, and the
    place label leakage silently ruins models: features come ONLY from
    events at-or-before the cutoff (2024-01-20), the label is
    no-activity in the following 10-day horizon, and the n_leaks
    column re-counts feature rows past the cutoff INSIDE the feature
    aggregate (structurally zero — the hash gate proves the temporal
    wall held, the same structural-zero technique as the q174 split
    audit). Two passes over the log (feature window, horizon activity
    set), both collapsing to user-cardinality before the label join;
    output is the per-class profile a modeler sanity-checks before
    training."""
    ev = table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-20").cast("date")
    horizon = F.lit("2024-01-30").cast("date")
    day = F.col("ts").cast("date")
    feat = (
        ev.filter(day <= cutoff)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events_pre"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("bigint")
            .alias("n_purchases_pre"),
            F.datediff(cutoff, F.max(day)).cast("bigint").alias(
                "recency_days"
            ),
            F.sum((day > cutoff).cast("int"))
            .cast("bigint")
            .alias("n_leaks"),
        )
    )
    horizon_active = (
        ev.filter(
            (day > cutoff)
            & (day <= horizon)
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("active", F.lit(1))
    )
    labels = feat.join(horizon_active, "user_id", "left").withColumn(
        "churned", F.col("active").isNull().cast("int")
    )
    return (
        labels.groupBy("churned")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.round(
                F.sum("n_events_pre").cast("double") / F.count("*"), 6
            ).alias("mean_events_pre_r"),
            F.round(
                F.sum("n_purchases_pre").cast("double") / F.count("*"), 6
            ).alias("mean_purchases_pre_r"),
            F.round(
                F.sum("recency_days").cast("double") / F.count("*"), 6
            ).alias("mean_recency_r"),
            F.sum("n_leaks").cast("bigint").alias("n_leaks"),
        )
        .orderBy("churned")
    )


@query(
    "q270_hierarchical_sampling",
    oracle="""
WITH src_kept AS (
  SELECT DISTINCT source,
         CAST(CASE WHEN ('0x' || substr(md5('hs1|' || source), 1, 8))
                        ::BIGINT % 100 < 50 THEN 1 ELSE 0 END AS INT)
           AS src_in
  FROM documents
), scored AS (
  SELECT d.doc_id, d.source, s.src_in,
         CAST(CASE WHEN ('0x' || substr(md5('hs2|'
                           || CAST(d.doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 100 < 50 THEN 1 ELSE 0 END AS INT)
           AS doc_coin,
         d.n_chars
  FROM documents d JOIN src_kept s ON s.source = d.source
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(src_in) AS BIGINT) AS n_in_kept_sources,
       CAST(SUM(src_in * doc_coin) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN src_in = 0 AND doc_coin = 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_draws,
       CAST(SUM(src_in * doc_coin * n_chars) AS BIGINT) AS sampled_chars,
       CAST((SELECT SUM(src_in) FROM src_kept) AS BIGINT) AS n_kept_sources
FROM scored
""",
    tags=("curation", "sampling"),
)
def q270_hierarchical_sampling(spark, sf_dir):
    """Hierarchically consistent two-stage sampling (the sub-corpus
    draw a 100 TB pipeline uses for ablations): stage 1 keeps ~50% of
    SOURCES by an md5 coin on the source name, stage 2 keeps ~50% of
    documents WITHIN kept sources by an independent md5 coin on the
    doc id — so the ~25% sample is reproducible at both levels, any
    source's inclusion can be answered without touching its documents,
    and adding documents to a source never flips the source-level
    decision (the consistency property rejection/reservoir sampling
    lacks). n_orphan_draws counts doc-coin successes in DROPPED
    sources — sampled-but-excluded mass that proves the two stages
    compose by conjunction, not union. One broadcast join of the
    source-decision table onto the corpus; coins are codegen md5s."""
    d = table(spark, sf_dir, "documents")

    def coin(prefix, col):
        return (
            (md5_bits(F.concat(F.lit(prefix), col), 8) % 100)
            < 50
        ).cast("int")

    src_kept = (
        d.select("source")
        .distinct()
        .select("source", coin("hs1|", F.col("source")).alias("src_in"))
        .localCheckpoint(eager=False)
    )
    scored = d.join(F.broadcast(src_kept), "source").select(
        "src_in",
        coin("hs2|", F.col("doc_id").cast("string")).alias("doc_coin"),
        "n_chars",
    )
    n_kept = src_kept.agg(
        F.sum("src_in").cast("bigint").alias("n_kept_sources")
    )
    return (
        scored.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("src_in").cast("bigint").alias("n_in_kept_sources"),
            F.sum(F.col("src_in") * F.col("doc_coin"))
            .cast("bigint")
            .alias("n_sampled"),
            F.sum(
                ((F.col("src_in") == 0) & (F.col("doc_coin") == 1)).cast(
                    "int"
                )
            )
            .cast("bigint")
            .alias("n_orphan_draws"),
            F.sum(F.col("src_in") * F.col("doc_coin") * F.col("n_chars"))
            .cast("bigint")
            .alias("sampled_chars"),
        )
        .crossJoin(F.broadcast(n_kept))
    )


@query(
    "q287_fairness_audit",
    oracle="""
WITH scored AS (
  SELECT c_mktsegment AS segment,
         CAST(CASE WHEN c_acctbal > 5000.0 THEN 1 ELSE 0 END AS INT)
           AS selected
  FROM customer
), per_seg AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(selected) AS BIGINT) AS n_selected
  FROM scored GROUP BY segment
), best AS (
  SELECT MAX(CAST(n_selected AS DOUBLE) / n) AS best_rate FROM per_seg
)
SELECT p.segment, p.n, p.n_selected,
       round(CAST(p.n_selected AS DOUBLE) / p.n, 6) AS selection_rate_r,
       round((CAST(p.n_selected AS DOUBLE) / p.n) / b.best_rate, 6)
         AS disparate_impact_r,
       CAST(CASE WHEN (CAST(p.n_selected AS DOUBLE) / p.n)
                      / b.best_rate < 0.8 THEN 1 ELSE 0 END AS INT)
         AS four_fifths_flag
FROM per_seg p CROSS JOIN best b
ORDER BY p.segment
""",
    tags=("curation", "governance"),
)
def q287_fairness_audit(spark, sf_dir):
    """Disparate-impact fairness audit (the four-fifths rule): a
    selection policy (account balance above a threshold, standing in
    for any model's accept decision) is measured per market segment —
    selection rate, the ratio to the MOST-selected group, and the
    regulatory 80% flag that triggers review when a group's rate falls
    below four-fifths of the best group's. This is governance
    machinery, not statistics tricks: one grouped aggregate, one
    broadcast max, exact counts, and a flag auditors can re-derive by
    hand. At 100 TB the policy column would come from a model-score
    join; the audit shape — rates vs reference group per protected
    segment — is unchanged, which is why it belongs in the engine's
    standard battery rather than a notebook."""
    c = table(spark, sf_dir, "customer")
    scored = c.select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("c_acctbal") > 5000.0).cast("int").alias("selected"),
    )
    per_seg = scored.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("selected").cast("bigint").alias("n_selected"),
    )
    best = per_seg.agg(
        F.max(F.col("n_selected").cast("double") / F.col("n")).alias(
            "best_rate"
        )
    )
    rate = F.col("n_selected").cast("double") / F.col("n")
    di = rate / F.col("best_rate")
    return (
        per_seg.crossJoin(F.broadcast(best))
        .select(
            "segment",
            "n",
            "n_selected",
            F.round(rate, 6).alias("selection_rate_r"),
            F.round(di, 6).alias("disparate_impact_r"),
            (di < 0.8).cast("int").alias("four_fifths_flag"),
        )
        .orderBy("segment")
    )


@query(
    "q302_qini_uplift",
    oracle="""
WITH subj AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('up|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS treated,
         LEAST(CAST(10 AS BIGINT),
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) // 3) AS score,
         CAST(CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END
              AS INT) AS converted
  FROM events GROUP BY user_id
), per_decile AS (
  SELECT score,
         CAST(SUM(treated) AS BIGINT) AS n_t,
         CAST(SUM(1 - treated) AS BIGINT) AS n_c,
         CAST(SUM(treated * converted) AS BIGINT) AS conv_t,
         CAST(SUM((1 - treated) * converted) AS BIGINT) AS conv_c
  FROM subj GROUP BY score
)
SELECT score,
       n_t, n_c, conv_t, conv_c,
       round(CASE WHEN n_t > 0 AND n_c > 0
             THEN CAST(conv_t AS DOUBLE) / n_t
                  - CAST(conv_c AS DOUBLE) / n_c END, 6) AS uplift_r,
       round(CAST(SUM(conv_t) OVER w AS DOUBLE)
             - CAST(SUM(n_t) OVER w AS DOUBLE)
               * SUM(conv_c) OVER w / NULLIF(SUM(n_c) OVER w, 0), 6)
         AS qini_r
FROM per_decile
WINDOW w AS (ORDER BY score DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY score DESC
""",
    tags=("curation", "experimentation", "eval"),
)
def q302_qini_uplift(spark, sf_dir):
    """Qini uplift curve: per score bucket (engagement-depth standing
    in for an uplift model's score), the treated-minus-control
    conversion lift and the cumulative Qini statistic — the evaluation
    that answers "WHO should get the treatment", which a plain A/B
    readout can't (it averages persuadables with lost causes). The
    Qini running value is the classic conv_t - n_t * rate_c identity
    over cumulative windows ordered score-descending, all from one
    user-keyed aggregate + a bucket summary; empty-arm cells emit NULL
    (guarded division) rather than fabricating a lift. Completes the
    causal suite: q259 adjusts the estimate, q268/q282 test it, this
    targets it."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    treated = (
        md5_bits(F.concat(F.lit("up|"), F.col("user_id").cast("string")), 8)
        % 2
    ).cast("int")
    subj = ev.groupBy("user_id").agg(
        F.least(
            F.lit(10).cast("bigint"),
            F.expr(
                "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
                " div 3"
            ).cast("bigint"),
        ).alias("score"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        )
        .cast("int")
        .alias("converted"),
    ).select(treated.alias("treated"), "score", "converted")
    per_decile = subj.groupBy("score").agg(
        F.sum("treated").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("bigint").alias("n_c"),
        F.sum(F.col("treated") * F.col("converted"))
        .cast("bigint")
        .alias("conv_t"),
        F.sum((1 - F.col("treated")) * F.col("converted"))
        .cast("bigint")
        .alias("conv_c"),
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    uplift = F.when(
        (F.col("n_t") > 0) & (F.col("n_c") > 0),
        F.col("conv_t").cast("double") / F.col("n_t")
        - F.col("conv_c").cast("double") / F.col("n_c"),
    )
    qini = (
        F.sum("conv_t").over(w).cast("double")
        - F.sum("n_t").over(w).cast("double")
        * F.sum("conv_c").over(w)
        / F.nullif(F.sum("n_c").over(w), F.lit(0))
    )
    return per_decile.select(
        "score",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.round(uplift, 6).alias("uplift_r"),
        F.round(qini, 6).alias("qini_r"),
    ).orderBy(F.col("score").desc())


@query(
    "q313_ips_offpolicy_eval",
    oracle="""
WITH subj AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('beh|' || CAST(user_id AS VARCHAR)),
                              1, 8))::BIGINT % 2 AS INT) AS logged_arm,
         LEAST(CAST(10 AS BIGINT),
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) // 3) AS score,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100.0, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS reward_cents
  FROM events GROUP BY user_id
), policy AS (
  SELECT *, CAST(CASE WHEN score >= 4 THEN 1 ELSE 0 END AS INT)
           AS target_arm
  FROM subj
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       round(CAST(SUM(reward_cents) AS DOUBLE) / COUNT(*) / 100.0, 6)
         AS logged_value_r,
       round(CAST(SUM(CASE WHEN target_arm = logged_arm
                      THEN reward_cents * 2 ELSE 0 END) AS DOUBLE)
             / COUNT(*) / 100.0, 6) AS ips_value_r,
       CAST(SUM(CASE WHEN target_arm = logged_arm THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched
FROM policy
""",
    tags=("curation", "experimentation", "eval"),
)
def q313_ips_offpolicy_eval(spark, sf_dir):
    """Off-policy evaluation via inverse propensity scoring: estimate
    what a NEW targeting policy (treat engaged users, score >= 4)
    would have earned from logs collected under a uniform random
    policy — without running the new policy. Matched rows weight by
    1/P(logged arm) = 2 exactly (the uniform logger makes the
    propensity a constant integer, so the IPS estimate is exact
    arithmetic, not a learned correction); unmatched rows contribute
    zero. The counterfactual number next to the logged value is the
    go/no-go for deploying the policy into a q308-style sequential
    test. One user-keyed aggregate; rewards in exact cents."""
    ev = table(spark, sf_dir, "events")
    cents = money("value")
    subj = ev.groupBy("user_id").agg(
        F.least(
            F.lit(10).cast("bigint"),
            F.expr(
                "sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
                " div 3"
            ).cast("bigint"),
        ).alias("score"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        )
        .cast("bigint")
        .alias("reward_cents"),
    ).select(
        (md5_bits(F.concat(F.lit("beh|"), F.col("user_id").cast("string")), 8) % 2)
        .cast("int")
        .alias("logged_arm"),
        "score",
        "reward_cents",
    )
    policy = subj.withColumn(
        "target_arm", (F.col("score") >= 4).cast("int")
    )
    matched = F.col("target_arm") == F.col("logged_arm")
    return policy.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(
            F.sum("reward_cents").cast("double") / F.count("*") / 100.0, 6
        ).alias("logged_value_r"),
        F.round(
            F.sum(
                F.when(matched, F.col("reward_cents") * 2).otherwise(0)
            ).cast("double")
            / F.count("*")
            / 100.0,
            6,
        ).alias("ips_value_r"),
        F.sum(matched.cast("int")).cast("bigint").alias("n_matched"),
    )


_MI_CENTS = 20_000_000  # $200k binary target line


@query(
    "a368_mutual_information",
    oracle=f"""
WITH base AS (
  SELECT o_orderpriority AS f,
         CASE WHEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                   > {_MI_CENTS} THEN 1 ELSE 0 END AS y
  FROM orders
), joint AS (
  SELECT f, y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY f, y
), marg_f AS (
  SELECT f, CAST(SUM(c) AS BIGINT) AS cf FROM joint GROUP BY f
), marg_y AS (
  SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM joint GROUP BY y
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint
), terms AS (
  SELECT j.f, j.y,
         CAST(ROUND(CAST(j.c AS DOUBLE) / t.n
                    * ln(CAST(j.c AS DOUBLE) * t.n
                         / (CAST(f.cf AS DOUBLE) * y.cy))
                    * 1000000000.0, 0) AS BIGINT) AS mi_nano
  FROM joint j
  JOIN marg_f f ON f.f = j.f
  JOIN marg_y y ON y.y = j.y
  CROSS JOIN tot t
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       round(CAST(SUM(mi_nano) AS DOUBLE) / 1000000000.0, 6) AS mi_nats_r
FROM terms
""",
    tags=("curation", "feature-selection"),
)
def a368_mutual_information(spark, sf_dir):
    """Mutual information I(F; Y) between a categorical feature
    (priority) and a binary target (high-value order) — the
    feature-selection statistic that catches non-linear association
    where correlation reads zero. Computed entirely from the
    joint-count contingency table: each cell's p·ln(p/(pₓp_y)) uses
    EXACT integer counts inside the ln (c·N / (c_f·c_y), an exact
    rational — the q121 PMI discipline), is nano-fixed per cell, and
    summed exactly, so the double accumulation order can't flip a
    rounding boundary. One fact-table aggregate; everything after is
    contingency-table-sized (|F|×2 cells) at any corpus size."""
    o = table(spark, sf_dir, "orders")
    y = (money("o_totalprice") > _MI_CENTS).cast("int")
    joint = o.select(
        F.col("o_orderpriority").alias("f"), y.alias("y")
    ).groupBy("f", "y").agg(F.count("*").cast("bigint").alias("c")).localCheckpoint(
        eager=False
    )  # contingency table feeds both marginals + total + terms
    marg_f = joint.groupBy("f").agg(F.sum("c").cast("bigint").alias("cf"))
    marg_y = joint.groupBy("y").agg(F.sum("c").cast("bigint").alias("cy"))
    tot = joint.agg(F.sum("c").cast("bigint").alias("n"))
    terms = (
        joint.join(marg_f, "f")
        .join(F.broadcast(marg_y), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            money(
                F.col("c").cast("double")
                / F.col("n")
                * F.log(
                    F.col("c").cast("double")
                    * F.col("n")
                    / (F.col("cf").cast("double") * F.col("cy"))
                ),
                9,
            )
            .alias("mi_nano")
        )
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.round(F.sum("mi_nano").cast("double") / 1e9, 6).alias(
            "mi_nats_r"
        ),
    )


_CHI2_TOP = 3  # distinctive terms kept per source


@query(
    "a378_distinctive_terms",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source,
         list_distinct(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'),
           x -> x <> '')) AS toks
  FROM documents
), present AS (
  SELECT source, unnest(toks) AS term FROM docs
), cnt AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS a
  FROM present GROUP BY source, term
), src_tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM docs
  GROUP BY source
), term_tot AS (
  SELECT term, CAST(SUM(a) AS BIGINT) AS df FROM cnt GROUP BY term
), n_all AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs
), chi AS (
  SELECT c.source, c.term, c.a,
         (s.n_src - c.a) AS b,
         (t.df - c.a) AS cc,
         (n.n - s.n_src - t.df + c.a) AS d,
         n.n AS n
  FROM cnt c
  JOIN src_tot s ON s.source = c.source
  JOIN term_tot t ON t.term = c.term
  CROSS JOIN n_all n
), scored AS (
  SELECT source, term, a,
         round(CAST(n AS DOUBLE)
               * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * cc)
               * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * cc)
               / (CAST(a + b AS DOUBLE) * (cc + d) * (a + cc) * (b + d)),
               6) AS chi2_r
  FROM chi
  WHERE (a + b) > 0 AND (cc + d) > 0 AND (a + cc) > 0 AND (b + d) > 0
)
SELECT source, term, a AS df_in_source, chi2_r
FROM (SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY chi2_r DESC, term) AS rn
      FROM scored)
WHERE rn <= {_CHI2_TOP}
ORDER BY source, chi2_r DESC, term
""",
    tags=("curation", "text"),
)
def a378_distinctive_terms(spark, sf_dir):
    """Per-source distinctive vocabulary — the χ² (one-degree) keyword
    profile that answers "which words characterize THIS source versus
    the rest of the corpus": for each (source, term), the 2×2
    presence table (term-in-source / term-elsewhere / absent…) scored
    by n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)), top-{_CHI2_TOP} per source.
    The q87 TF-IDF keywords are per-DOCUMENT; this is the corpus-
    level domain profile used for mixture auditing and source
    fingerprinting. Document-presence counts (distinct terms per doc)
    keep a ≤ n_docs so every product stays far inside BIGINT; χ² is
    one double expression over five exact integers. One posting
    shuffle; source totals and the doc count ride in as broadcast
    summaries."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "source",
        F.array_distinct(tokens(F.lower(F.trim("text")))).alias("toks"),
    ).localCheckpoint(eager=False)  # feeds presence counts + doc totals
    present = docs.select("source", F.explode("toks").alias("term"))
    cnt = present.groupBy("source", "term").agg(
        F.count("*").cast("bigint").alias("a")
    )
    src_tot = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_src")
    )
    term_tot = cnt.groupBy("term").agg(F.sum("a").cast("bigint").alias("df"))
    n_all = docs.agg(F.count("*").cast("bigint").alias("n"))
    chi = (
        cnt.join(F.broadcast(src_tot), "source")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(n_all))
        .select(
            "source",
            "term",
            "a",
            (F.col("n_src") - F.col("a")).alias("b"),
            (F.col("df") - F.col("a")).alias("cc"),
            (F.col("n") - F.col("n_src") - F.col("df") + F.col("a")).alias(
                "d"
            ),
            "n",
        )
    )
    ad_bc = (
        F.col("a").cast("double") * F.col("d")
        - F.col("b").cast("double") * F.col("cc")
    )
    scored = chi.filter(
        ((F.col("a") + F.col("b")) > 0)
        & ((F.col("cc") + F.col("d")) > 0)
        & ((F.col("a") + F.col("cc")) > 0)
        & ((F.col("b") + F.col("d")) > 0)
    ).select(
        "source",
        "term",
        F.col("a").alias("df_in_source"),
        F.round(
            F.col("n").cast("double")
            * ad_bc
            * ad_bc
            / (
                (F.col("a") + F.col("b")).cast("double")
                * (F.col("cc") + F.col("d"))
                * (F.col("a") + F.col("cc"))
                * (F.col("b") + F.col("d"))
            ),
            6,
        ).alias("chi2_r"),
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("chi2_r").desc(), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= _CHI2_TOP)
        .drop("rn")
        .orderBy("source", F.col("chi2_r").desc(), "term")
    )


@query(
    "a393_woe_information_value",
    oracle="""
WITH base AS (
  SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
), binned AS (
  SELECT CAST(ntile(10) OVER (ORDER BY cents, y) AS BIGINT) AS bin, y
  FROM base
), cnt AS (
  SELECT bin,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS tp, CAST(SUM(neg) AS BIGINT) AS tn
  FROM cnt
)
SELECT c.bin, c.pos, c.neg,
       round(ln((CAST(c.pos AS DOUBLE) * t.tn)
                / (CAST(c.neg AS DOUBLE) * t.tp)), 6) AS woe_r,
       round((CAST(c.pos AS DOUBLE) / t.tp
              - CAST(c.neg AS DOUBLE) / t.tn)
             * ln((CAST(c.pos AS DOUBLE) * t.tn)
                  / (CAST(c.neg AS DOUBLE) * t.tp)), 6) AS iv_term_r
FROM cnt c CROSS JOIN tot t
ORDER BY c.bin
""",
    tags=("curation", "feature-selection"),
)
def a393_woe_information_value(spark, sf_dir):
    """Weight-of-evidence / information-value binning — the
    credit-scoring feature transform and its predictive-power summary:
    price deciles (deterministic ntile with a full tiebreak) get
    WoE = ln((pos_i/Σpos)/(neg_i/Σneg)), algebraically rearranged to
    ln(pos·TN / (neg·TP)) so the ln argument is an exact integer
    RATIO (the q121 discipline — no intermediate rounded rates), and
    IV = Σ(%pos − %neg)·WoE accumulates per-bin terms the reader can
    sum. Complements a368's MI (IV is the binned, sign-carrying
    cousin) and q171's lift (rank view). One global ntile over the
    fact projection, ten-row output."""
    o = table(spark, sf_dir, "orders")
    base = o.select(
        money("o_totalprice").alias("cents"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("int")
        .alias("y"),
    )
    binned = base.select(
        F.ntile(10).over(Window.orderBy("cents", "y")).cast("bigint").alias("bin"),
        "y",
    )
    cnt = binned.groupBy("bin").agg(
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
    ).localCheckpoint(eager=False)  # 10 rows, feeds totals + readout
    tot = cnt.agg(
        F.sum("pos").cast("bigint").alias("tp"),
        F.sum("neg").cast("bigint").alias("tn"),
    )
    woe = F.log(
        (F.col("pos").cast("double") * F.col("tn"))
        / (F.col("neg").cast("double") * F.col("tp"))
    )
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "pos",
            "neg",
            F.round(woe, 6).alias("woe_r"),
            F.round(
                (
                    F.col("pos").cast("double") / F.col("tp")
                    - F.col("neg").cast("double") / F.col("tn")
                )
                * woe,
                6,
            ).alias("iv_term_r"),
        )
        .orderBy("bin")
    )


@query(
    "a395_gain_ratio",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS f,
         CASE WHEN CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT)
                   > 20000000 THEN 1 ELSE 0 END AS y
  FROM orders
), joint AS (
  SELECT f, y, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY f, y
), marg_f AS (
  SELECT f, CAST(SUM(c) AS BIGINT) AS cf FROM joint GROUP BY f
), marg_y AS (
  SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM joint GROUP BY y
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint
), mi AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(j.c AS DOUBLE) / t.n
                 * ln(CAST(j.c AS DOUBLE) * t.n
                      / (CAST(f.cf AS DOUBLE) * y.cy))
                 * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS mi_nano
  FROM joint j JOIN marg_f f ON f.f = j.f
  JOIN marg_y y ON y.y = j.y CROSS JOIN tot t
), hf AS (
  SELECT CAST(SUM(CAST(ROUND(-(CAST(cf AS DOUBLE) / t.n)
                 * ln(CAST(cf AS DOUBLE) / t.n)
                 * 1000000000.0, 0) AS BIGINT)) AS BIGINT) AS hf_nano
  FROM marg_f CROSS JOIN tot t
)
SELECT round(CAST(mi_nano AS DOUBLE) / 1000000000.0, 6) AS mi_nats_r,
       round(CAST(hf_nano AS DOUBLE) / 1000000000.0, 6) AS h_feature_r,
       round(CAST(mi_nano AS DOUBLE) / hf_nano, 6) AS gain_ratio_r
FROM mi CROSS JOIN hf
""",
    tags=("curation", "feature-selection"),
)
def a395_gain_ratio(spark, sf_dir):
    """Gain ratio — a368's mutual information normalized by the
    FEATURE's own entropy (C4.5's split criterion): raw MI
    systematically favors high-cardinality features because a
    many-valued key can memorize the target; dividing by H(F) removes
    that bias, which is why tree learners and feature-selection
    pipelines rank on the ratio. Both numerator (MI) and denominator
    (H(F)) are nano-fixed sums of exact-rational ln terms over the
    contingency marginals — everything after the one fact aggregate
    is |F|-sized."""
    o = table(spark, sf_dir, "orders")
    y = (money("o_totalprice") > 20_000_000).cast("int")
    joint = (
        o.select(F.col("o_orderpriority").alias("f"), y.alias("y"))
        .groupBy("f", "y")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    marg_f = joint.groupBy("f").agg(F.sum("c").cast("bigint").alias("cf"))
    marg_y = joint.groupBy("y").agg(F.sum("c").cast("bigint").alias("cy"))
    tot = joint.agg(F.sum("c").cast("bigint").alias("n"))
    mi = (
        joint.join(marg_f, "f")
        .join(F.broadcast(marg_y), "y")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                money(
                    F.col("c").cast("double")
                    / F.col("n")
                    * F.log(
                        F.col("c").cast("double")
                        * F.col("n")
                        / (F.col("cf").cast("double") * F.col("cy"))
                    ),
                    9,
                )
            )
            .cast("bigint")
            .alias("mi_nano")
        )
    )
    hf = marg_f.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            money(
                -(F.col("cf").cast("double") / F.col("n"))
                * F.log(F.col("cf").cast("double") / F.col("n")),
                9,
            )
        )
        .cast("bigint")
        .alias("hf_nano")
    )
    return mi.crossJoin(F.broadcast(hf)).select(
        F.round(F.col("mi_nano").cast("double") / 1e9, 6).alias(
            "mi_nats_r"
        ),
        F.round(F.col("hf_nano").cast("double") / 1e9, 6).alias(
            "h_feature_r"
        ),
        F.round(
            F.col("mi_nano").cast("double") / F.col("hf_nano"), 6
        ).alias("gain_ratio_r"),
    )


_LN2 = 0.6931471805599453


@query(
    "a554_jensen_shannon",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), dist AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
  GROUP BY source, tok
), tots AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM dist GROUP BY source
), common AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_common_tokens,
         CAST(SUM(a.cnt) AS BIGINT) AS common_a,
         CAST(SUM(b.cnt) AS BIGINT) AS common_b,
         CAST(SUM(CAST(ROUND(1000000.0 * 0.5 *
           ((CAST(a.cnt AS DOUBLE) / ta.tot)
              * ln(2.0 * (CAST(a.cnt AS DOUBLE) / ta.tot)
                   / ((CAST(a.cnt AS DOUBLE) / ta.tot)
                      + (CAST(b.cnt AS DOUBLE) / tb.tot)))
            + (CAST(b.cnt AS DOUBLE) / tb.tot)
              * ln(2.0 * (CAST(b.cnt AS DOUBLE) / tb.tot)
                   / ((CAST(a.cnt AS DOUBLE) / ta.tot)
                      + (CAST(b.cnt AS DOUBLE) / tb.tot)))),
           0) AS BIGINT)) AS BIGINT) AS term_micro
  FROM dist a
  JOIN dist b ON a.tok = b.tok AND a.source < b.source
  JOIN tots ta ON ta.source = a.source
  JOIN tots tb ON tb.source = b.source
  GROUP BY src_a, src_b
)
SELECT c.src_a, c.src_b, c.n_common_tokens,
       round(c.term_micro / 1e6
             + 0.5 * {_LN2}
               * ((1.0 - CAST(c.common_a AS DOUBLE) / ta.tot)
                  + (1.0 - CAST(c.common_b AS DOUBLE) / tb.tot)),
             6) AS js_r
FROM common c
JOIN tots ta ON ta.source = c.src_a
JOIN tots tb ON tb.source = c.src_b
ORDER BY c.src_a, c.src_b
""",
    tags=("curation", "stats"),
)
def a554_jensen_shannon(spark, sf_dir):
    """Jensen-Shannon divergence between every source pair's unigram
    distribution — the bounded symmetric divergence (0 ≤ JS ≤ ln 2)
    that drives source-mixture curation decisions, completing the
    inter-source battery next to mutual information (a368),
    distinctive vocabulary (a378), and n-gram contamination (a386).
    Split form keeps it ONE equi-join: tokens common to both sources
    contribute ½[p·ln(2p/(p+q)) + q·ln(2q/(p+q))] (each term
    micro-rounded to BIGINT before the order-independent sum — the
    q198 idf discipline for the single ln in the expression), and
    one-sided mass contributes exactly ½·ln2·(1−coverage), with ln 2 a
    Python-embedded literal, so no full-outer join over the vocabulary
    union is ever built. Probabilities are exact rationals from
    integer counts. Distributions are vocabulary-sized after the first
    aggregate; the pair join is vocab × source-pairs, independent of
    corpus row count."""
    d = table(spark, sf_dir, "documents")
    dist = (
        ensure_parallelism(d)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tots = dist.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    ).localCheckpoint(eager=False)
    a = dist.select(
        F.col("source").alias("src_a"), "tok", F.col("cnt").alias("cnt_a")
    )
    b = dist.select(
        F.col("source").alias("src_b"), "tok", F.col("cnt").alias("cnt_b")
    )
    ta = tots.select(
        F.col("source").alias("src_a"), F.col("tot").alias("tot_a")
    )
    tb = tots.select(
        F.col("source").alias("src_b"), F.col("tot").alias("tot_b")
    )
    joined = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
    )
    p = F.col("cnt_a").cast("double") / F.col("tot_a")
    q = F.col("cnt_b").cast("double") / F.col("tot_b")
    term = 0.5 * (
        p * F.log(2.0 * p / (p + q)) + q * F.log(2.0 * q / (p + q))
    )
    common = joined.groupBy("src_a", "src_b").agg(
        F.count("*").cast("bigint").alias("n_common_tokens"),
        F.sum("cnt_a").cast("bigint").alias("common_a"),
        F.sum("cnt_b").cast("bigint").alias("common_b"),
        F.sum(F.round(1000000.0 * term, 0).cast("bigint"))
        .cast("bigint")
        .alias("term_micro"),
    )
    js = (
        F.col("term_micro") / 1e6
        + 0.5
        * _LN2
        * (
            (1.0 - F.col("common_a").cast("double") / F.col("tot_a"))
            + (1.0 - F.col("common_b").cast("double") / F.col("tot_b"))
        )
    )
    return (
        common.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common_tokens",
            F.round(js, 6).alias("js_r"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "a437_silhouette",
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
), ranked AS (
  SELECT vec_id, cid, d_fp,
         row_number() OVER (
           PARTITION BY vec_id ORDER BY d_fp, cid) AS rn
  FROM dist
), ab AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN cid END) AS cell,
         MAX(CASE WHEN rn = 1 THEN d_fp END) AS a_fp,
         MAX(CASE WHEN rn = 2 THEN d_fp END) AS b_fp
  FROM ranked WHERE rn <= 2 GROUP BY vec_id
), sil AS (
  SELECT cell,
         CAST(ROUND(CASE WHEN b_fp = 0 THEN 0.0 ELSE
           (sqrt(b_fp / 1000000000000.0) - sqrt(a_fp / 1000000000000.0))
           / greatest(sqrt(a_fp / 1000000000000.0),
                      sqrt(b_fp / 1000000000000.0)) END
           * 1000000000.0, 0) AS BIGINT) AS s_fp
  FROM ab
)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(ROUND(SUM(s_fp) / COUNT(*), 0) AS BIGINT) / 1000000000.0
         AS mean_silhouette
FROM sil GROUP BY cell ORDER BY cell
""",
    tags=("curation", "similarity"),
)
def a437_silhouette(spark, sf_dir):
    """Simplified silhouette score for the q95 k-means clustering —
    the standard cluster-quality diagnostic, in its O(n·k) centroid
    form (a = distance to own centroid, b = distance to the nearest
    OTHER centroid, s = (b−a)/max(a,b)) rather than the O(n²)
    pairwise textbook form, which is the only version that survives
    100 TB: the corpus is never self-joined, only cross-joined against
    the broadcast 8-row codebook (same plan as q95's assignment pass,
    one shuffle to the per-cell rollup). Squared distances are
    fixed-pointed to BIGINT (deterministic index-order fold on both
    engines), the two smallest per vector are picked by an exact
    integer (d_fp, cid) ranking — since each centroid contributes one
    row per vector, the global second-smallest IS the nearest-other —
    and sqrt of an identical integer ratio is correctly rounded IEEE
    on both engines, so per-cell means hash-match bit-for-bit.
    Seed vectors (vec_id<8) sit exactly on their centroid: a=0, s=1."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = (
        e.filter(F.col("vec_id") < 8)
        .limit(8)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    d_fp = money(
        F.aggregate(
            F.zip_with("v", "cv", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        12,
    )
    dist = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", d_fp.alias("d_fp")
    )
    w = Window.partitionBy("vec_id").orderBy("d_fp", "cid")
    ab = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("cell"),
            F.max(F.when(F.col("rn") == 1, F.col("d_fp"))).alias("a_fp"),
            F.max(F.when(F.col("rn") == 2, F.col("d_fp"))).alias("b_fp"),
        )
    )
    a_d = F.sqrt(F.col("a_fp") / 1000000000000.0)
    b_d = F.sqrt(F.col("b_fp") / 1000000000000.0)
    sil = ab.select(
        "cell",
        money(
            F.when(F.col("b_fp") == 0, F.lit(0.0)).otherwise(
                (b_d - a_d) / F.greatest(a_d, b_d)
            ),
            9,
        )
        .alias("s_fp"),
    )
    return (
        sil.groupBy("cell")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            (
                F.round(F.sum("s_fp") / F.count("*"), 0).cast("bigint")
                / 1000000000.0
            ).alias("mean_silhouette"),
        )
        .select(
            F.col("cell").cast("bigint").alias("cell"),
            "n_members",
            "mean_silhouette",
        )
        .orderBy("cell")
    )


_GMC_GAINS = """list_transform(range(n), i -> {
        'ng': CASE WHEN list_contains(picked, ids[i + 1]) THEN 1
                   ELSE -len(list_filter(sets[i + 1],
                             t -> NOT list_contains(covered, t))) END,
        'id': ids[i + 1]})"""


@query(
    "a439_greedy_max_coverage",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 2), ' ')
         )) AS shingles
  FROM documents WHERE doc_id < 25
), panel AS (
  SELECT list(doc_id ORDER BY doc_id) AS ids,
         list(shingles ORDER BY doc_id) AS sets,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM sh
), it(k, picked, covered, ids, sets, n) AS (
  SELECT 0, []::BIGINT[], []::VARCHAR[], ids, sets, n FROM panel
  UNION ALL
  SELECT k + 1,
         list_append(picked, struct_extract(list_min({_GMC_GAINS}), 'id')),
         list_distinct(covered ||
           sets[CAST(list_position(ids,
             struct_extract(list_min({_GMC_GAINS}), 'id')) AS INT)]),
         ids, sets, n
  FROM it WHERE k < 6
)
SELECT a.k AS step, a.picked[a.k] AS doc_id,
       CAST(len(a.covered) - len(b.covered) AS BIGINT) AS gain_sz,
       CAST(len(a.covered) AS BIGINT) AS covered_sz
FROM it a JOIN it b ON b.k = a.k - 1
ORDER BY step
""",
    tags=("curation", "selection"),
)
def a439_greedy_max_coverage(spark, sf_dir):
    """Greedy maximum-coverage data selection — the (1−1/e)-optimal
    submodular baseline for "pick k documents that cover the most
    distinct content", the workhorse behind coverage-driven corpus
    subsetting and dedup-aware sampling: 6 greedy rounds pick the doc
    whose 3-gram shingle set adds the most NOT-yet-covered shingles
    (ties → lowest doc_id, encoded as an exact lexicographic
    (−gain, id) struct-min so both engines agree). The candidate
    panel is bounded (doc_id < 25 + explicit limit, the a118
    discipline) and collapses to ONE row of id/shingle-set arrays;
    the greedy recursion then runs entirely in JVM higher-order
    functions (F.aggregate over the 6-step sequence, array_except /
    array_union set algebra — no Python, no driver loop), with the
    oracle replaying identical set arithmetic in a WITH RECURSIVE
    step. Output is pure integers (ids, gains, coverage sizes) — no
    float surface at all. At 100 TB the panel stage is where scale
    lives (a distributed top-N by df or stratified candidate pull);
    the greedy core stays O(k·panel), independent of corpus size."""
    from ..functions.text import word_shingles

    d = table(spark, sf_dir, "documents")
    panel = (
        d.filter(F.col("doc_id") < 25)
        .limit(25)
        .select("doc_id", word_shingles("text", 3).alias("sh"))
    )
    one = panel.agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "sh"))).alias("arr")
    ).select(
        F.transform("arr", lambda x: x["doc_id"]).alias("ids"),
        F.transform("arr", lambda x: x["sh"]).alias("sets"),
        F.size("arr").alias("n"),
    )

    def step(acc, k):
        idxs = F.sequence(F.lit(0), F.col("n") - 1)
        g = F.transform(
            idxs,
            lambda i: F.struct(
                F.when(
                    F.array_contains(acc["picked"], F.get(F.col("ids"), i)),
                    F.lit(1),
                )
                .otherwise(
                    -F.size(
                        F.array_except(
                            F.get(F.col("sets"), i), acc["covered"]
                        )
                    )
                )
                .alias("ng"),
                F.get(F.col("ids"), i).alias("id"),
            ),
        )
        best = F.array_min(g)
        pos = F.array_position(F.col("ids"), best["id"]).cast("int")
        chosen = F.element_at(F.col("sets"), pos)
        new_covered = F.array_union(acc["covered"], chosen)
        return F.struct(
            F.array_append(acc["picked"], best["id"]).alias("picked"),
            new_covered.alias("covered"),
            F.array_append(
                acc["steps"],
                F.struct(
                    k.alias("step"),
                    best["id"].alias("doc_id"),
                    (-best["ng"]).alias("gain"),
                    F.size(new_covered).alias("covered_sz"),
                ),
            ).alias("steps"),
        )

    init = F.struct(
        F.array().cast("array<bigint>").alias("picked"),
        F.array().cast("array<string>").alias("covered"),
        F.array().cast(
            "array<struct<step:int,doc_id:bigint,gain:int,covered_sz:int>>"
        ).alias("steps"),
    )
    res = one.select(
        F.aggregate(
            F.sequence(F.lit(1), F.lit(6)), init, step
        )["steps"].alias("steps")
    )
    return (
        res.select(F.explode("steps").alias("s"))
        .select(
            F.col("s.step").alias("step"),
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.gain").cast("bigint").alias("gain_sz"),
            F.col("s.covered_sz").cast("bigint").alias("covered_sz"),
        )
        .orderBy("step")
    )


@query(
    "a444_wasserstein_1d",
    oracle="""
WITH vals AS (
  SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, n_chars
), ns AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_total FROM vals GROUP BY source
), grid AS (
  SELECT DISTINCT n_chars AS v FROM documents
), gaps AS (
  SELECT v, lead(v) OVER (ORDER BY v) - v AS gap FROM grid
), cdf AS (
  SELECT s.source, g.v,
         CAST(SUM(COALESCE(c.n, 0)) OVER (
           PARTITION BY s.source ORDER BY g.v) AS BIGINT) AS f
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN grid g
  LEFT JOIN vals c ON c.source = s.source AND c.v = g.v
)
SELECT a.source AS src_a, b.source AS src_b,
       na.n_total AS n_a, nb.n_total AS n_b,
       round(CAST(SUM(abs(a.f * nb.n_total - b.f * na.n_total) * gp.gap)
                  AS DOUBLE) / (na.n_total * nb.n_total), 6) AS w1_r
FROM cdf a
JOIN cdf b ON b.v = a.v AND a.source < b.source
JOIN gaps gp ON gp.v = a.v AND gp.gap IS NOT NULL
JOIN ns na ON na.source = a.source
JOIN ns nb ON nb.source = b.source
GROUP BY src_a, src_b, n_a, n_b
ORDER BY src_a, src_b
""",
    tags=("curation", "drift"),
)
def a444_wasserstein_1d(spark, sf_dir):
    """Exact 1-D Wasserstein-1 (earth-mover) distance between every
    pair of sources' document-length distributions — the drift metric
    that, unlike the PSI/KS/JS family already in the registry, is
    sensitive to HOW FAR mass moved, not just whether bins differ:
    W1 = ∫|F_a − F_b| dv over the merged support. Computed exactly in
    integers: per-source CDF counts F on the global distinct-value
    grid (one cumulative window per source over grouped counts — the
    distinct-value compression is what keeps this linear, the raw
    rows are never sorted globally), then
    Σ|F_a·n_b − F_b·n_a|·gap is an exact BIGINT (cross-multiplied
    CDFs avoid any rational intermediate) divided once at the end.
    All 190 source pairs ride ONE equi-join on the grid value — the
    pair explosion is |grid|×pairs, bounded by the value domain, not
    the corpus. At 100 TB the same plan holds with a quantile-sketch
    grid (t-digest cut points) instead of exact distinct values."""
    d = table(spark, sf_dir, "documents")
    vals = (
        d.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    ns = vals.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_total")
    )
    # groupBy-agg (not .distinct()): the lint needs a true Aggregate to
    # certify the broadcast side is bounded by the value domain
    grid = (
        d.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count("*").alias("_cnt"))
        .select("v")
        .localCheckpoint(eager=False)  # grid feeds gaps AND the cdf cross
    )
    gaps = grid.select(
        "v", (F.lead("v").over(Window.orderBy("v")) - F.col("v")).alias("gap")
    ).filter(F.col("gap").isNotNull())
    srcs = d.select("source").distinct()
    cdf = (
        srcs.crossJoin(grid)
        .join(vals, ["source", "v"], "left")
        .select(
            "source",
            "v",
            F.sum(F.coalesce("n", F.lit(0)))
            .over(
                Window.partitionBy("source")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("bigint")
            .alias("f"),
        )
    )
    a = cdf.select(
        F.col("source").alias("src_a"), "v", F.col("f").alias("fa")
    )
    b = cdf.select(
        F.col("source").alias("src_b"), "v", F.col("f").alias("fb")
    )
    na = ns.select(
        F.col("source").alias("src_a"), F.col("n_total").alias("n_a")
    )
    nb = ns.select(
        F.col("source").alias("src_b"), F.col("n_total").alias("n_b")
    )
    return (
        a.join(b, "v")
        .filter(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(gaps), "v")
        .join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .groupBy("src_a", "src_b", "n_a", "n_b")
        .agg(
            F.round(
                F.sum(
                    F.abs(
                        F.col("fa") * F.col("n_b")
                        - F.col("fb") * F.col("n_a")
                    )
                    * F.col("gap")
                ).cast("double")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("w1_r")
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "a445_decision_stump",
    oracle="""
WITH lab AS (
  SELECT CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS bin,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
), bins AS (
  SELECT bin, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM lab GROUP BY bin
), pre AS (
  SELECT bin,
         CAST(SUM(pos) OVER w AS BIGINT) AS pos_l,
         CAST(SUM(neg) OVER w AS BIGINT) AS neg_l,
         CAST(SUM(pos) OVER () AS BIGINT) AS pos_t,
         CAST(SUM(neg) OVER () AS BIGINT) AS neg_t
  FROM bins WINDOW w AS (ORDER BY bin)
), cand AS (
  SELECT bin, pos_l, neg_l,
         pos_t - pos_l AS pos_r, neg_t - neg_l AS neg_r,
         pos_l + neg_l AS n_l, (pos_t + neg_t) - (pos_l + neg_l) AS n_r,
         pos_t + neg_t AS n_tot, pos_t, neg_t
  FROM pre WHERE (pos_t + neg_t) - (pos_l + neg_l) > 0
), scored AS (
  SELECT bin, n_l, n_r, pos_l, pos_r,
         ((n_l - (pos_l * pos_l + neg_l * neg_l) / CAST(n_l AS DOUBLE))
          + (n_r - (pos_r * pos_r + neg_r * neg_r) / CAST(n_r AS DOUBLE)))
         / n_tot AS g,
         1.0 - (pos_t * pos_t + neg_t * neg_t)
             / (CAST(n_tot AS DOUBLE) * n_tot) AS g_root
  FROM cand
)
SELECT (bin + 1) * 100 AS threshold_usd, n_l AS n_left, n_r AS n_right,
       pos_l AS pos_left, pos_r AS pos_right,
       round(g, 6) AS gini_split_r, round(g_root, 6) AS gini_root_r
FROM scored
ORDER BY CAST(ROUND(g * 1000000000000.0, 0) AS BIGINT), bin
LIMIT 1
""",
    tags=("curation", "ml"),
)
def a445_decision_stump(spark, sf_dir):
    """Exact best-split decision stump — the innermost kernel of
    distributed tree learners (and of threshold-pickers for quality-
    classifier data filtering): find the price threshold that best
    separates urgent/high-priority orders by weighted Gini impurity.
    Uses the histogram trick every scalable GBDT uses: rows collapse
    to $100 bins FIRST (one groupBy — candidate set bounded by the
    value domain, not the row count), then one ordered window over
    the bins yields prefix class counts, and the weighted impurity of
    every split is a closed form of exact integers — IEEE division is
    correctly rounded, so the doubles agree across engines and the
    argmin is taken on a 1e-12 fixed-point key with the bin as
    deterministic tie-break. Output: the winning threshold with its
    class counts, split impurity, and the root impurity it improves
    on. The global bin window is ~5k rows at any sf — the fact scan
    never sorts."""
    o = table(spark, sf_dir, "orders")
    lab = o.select(
        F.floor(F.col("o_totalprice") / 100.0).cast("bigint").alias("bin"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    bins = lab.groupBy("bin").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg"),
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    pre = bins.select(
        "bin",
        F.sum("pos").over(w).cast("bigint").alias("pos_l"),
        F.sum("neg").over(w).cast("bigint").alias("neg_l"),
        F.sum("pos").over(wt).cast("bigint").alias("pos_t"),
        F.sum("neg").over(wt).cast("bigint").alias("neg_t"),
    )
    cand = pre.select(
        "bin",
        "pos_l",
        "neg_l",
        (F.col("pos_t") - F.col("pos_l")).alias("pos_r"),
        (F.col("neg_t") - F.col("neg_l")).alias("neg_r"),
        (F.col("pos_l") + F.col("neg_l")).alias("n_l"),
        (
            (F.col("pos_t") + F.col("neg_t"))
            - (F.col("pos_l") + F.col("neg_l"))
        ).alias("n_r"),
        (F.col("pos_t") + F.col("neg_t")).alias("n_tot"),
        "pos_t",
        "neg_t",
    ).filter(F.col("n_r") > 0)
    g = (
        (
            F.col("n_l")
            - (
                F.col("pos_l") * F.col("pos_l")
                + F.col("neg_l") * F.col("neg_l")
            )
            / F.col("n_l").cast("double")
        )
        + (
            F.col("n_r")
            - (
                F.col("pos_r") * F.col("pos_r")
                + F.col("neg_r") * F.col("neg_r")
            )
            / F.col("n_r").cast("double")
        )
    ) / F.col("n_tot")
    g_root = 1.0 - (
        F.col("pos_t") * F.col("pos_t") + F.col("neg_t") * F.col("neg_t")
    ) / (F.col("n_tot").cast("double") * F.col("n_tot"))
    return (
        cand.select(
            ((F.col("bin") + 1) * 100).alias("threshold_usd"),
            F.col("n_l").alias("n_left"),
            F.col("n_r").alias("n_right"),
            F.col("pos_l").alias("pos_left"),
            F.col("pos_r").alias("pos_right"),
            F.round(g, 6).alias("gini_split_r"),
            F.round(g_root, 6).alias("gini_root_r"),
            money(g, 12).alias("_g_fp"),
            F.col("bin").alias("_bin"),
        )
        .orderBy("_g_fp", "_bin")
        .limit(1)
        .drop("_g_fp", "_bin")
    )


def _ipf_oracle(iters: int = 10) -> str:
    """Unrolled IPF: each iteration scales weights to the equal-share
    source margin, then back to the observed language margin, in
    fixed-point micro-units so every margin sum is an exact BIGINT."""
    parts = ["""
WITH w0 AS MATERIALIZED (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) * 1000000 AS BIGINT) AS w
  FROM documents GROUP BY source, lang
), tgt AS (
  SELECT CAST(ROUND(CAST(SUM(n) AS DOUBLE) * 1000000.0
                    / COUNT(DISTINCT source), 0) AS BIGINT) AS t_row
  FROM w0
), langt AS (
  SELECT lang, CAST(SUM(n) * 1000000 AS BIGINT) AS t_lang
  FROM w0 GROUP BY lang
)"""]
    for k in range(1, iters + 1):
        parts.append(f""", r{k} AS (
  SELECT source, CAST(SUM(w) AS BIGINT) AS s FROM w{k - 1} GROUP BY source
), m{k} AS MATERIALIZED (
  SELECT c.source, c.lang, c.n,
         CAST(ROUND(CAST(c.w AS DOUBLE) * t.t_row / r.s, 0) AS BIGINT) AS w
  FROM w{k - 1} c JOIN r{k} r ON r.source = c.source CROSS JOIN tgt t
), c{k} AS (
  SELECT lang, CAST(SUM(w) AS BIGINT) AS s FROM m{k} GROUP BY lang
), w{k} AS MATERIALIZED (
  SELECT a.source, a.lang, a.n,
         CAST(ROUND(CAST(a.w AS DOUBLE) * t.t_lang / c.s, 0) AS BIGINT) AS w
  FROM m{k} a JOIN c{k} c ON c.lang = a.lang
  JOIN langt t ON t.lang = a.lang
)""")
    parts.append(f"""
SELECT source, lang, n, w AS w_micro
FROM w{iters}
ORDER BY source, lang""")
    return "".join(parts)


@query(
    "a448_ipf_raking",
    oracle=_ipf_oracle(),
    tags=("curation", "sampling"),
)
def a448_ipf_raking(spark, sf_dir):
    """Iterative proportional fitting (raking) — the survey-weighting
    algorithm a data-mixing pipeline uses to reweight a corpus toward
    target margins without destroying its joint structure: here, give
    every SOURCE an equal share while keeping the observed LANGUAGE
    mix, by alternately scaling the (source × lang) weight table to
    each margin for 10 rounds. Weights live in fixed-point
    micro-units: every margin sum is an exact BIGINT (so a
    1000-executor shuffle sum bit-matches DuckDB's serial fold) and
    each scaling is one ROUND of a double ratio of exact integers —
    deterministic on both engines, replayed by an unrolled-CTE
    oracle. The corpus is touched ONCE to build cell counts; the
    (source × lang) weight table is vocabulary-sized (~10–100 cells
    here), so the 20 half-steps run as exact driver-side scalar
    arithmetic (Python ints + the functions.exact HALF_UP replica of
    F.round(double, 0)) instead of 20 checkpoint+broadcast Spark jobs
    — bit-identical weights, ~20 fewer jobs. The table comes to the
    driver through ``collect_bounded``; a margin vocabulary over 100k
    cells raises.
    Zero-count cells never exist (only observed cells carry weight),
    so no scaling step can divide by zero. The output weight-to-count
    ratio per cell is the sampling rate a downstream mixer applies."""
    from ..functions.exact import round0_half_up

    d = table(spark, sf_dir, "documents")
    cells = collect_bounded(
        d.groupBy("source", "lang").agg(
            F.count("*").cast("bigint").alias("n")
        ),
        100_000,
        "a448_ipf_raking source x lang table",
    )
    rows = [
        [r["source"], r["lang"], r["n"], r["n"] * 1_000_000]
        for r in cells
    ]
    sum_n = sum(r[2] for r in rows)
    n_src = len({r[0] for r in rows})
    # F.round(sum(n)·1e6/countDistinct(source)) — double ratio of
    # exact ints, HALF_UP
    t_row = round0_half_up(float(sum_n) * 1000000.0 / float(n_src))
    t_lang: dict[str, int] = {}
    for r in rows:
        t_lang[r[1]] = t_lang.get(r[1], 0) + r[2]
    t_lang = {k: v * 1_000_000 for k, v in t_lang.items()}
    for _ in range(10):
        s_src: dict[str, int] = {}
        for r in rows:
            s_src[r[0]] = s_src.get(r[0], 0) + r[3]
        for r in rows:
            r[3] = round0_half_up(
                float(r[3]) * float(t_row) / float(s_src[r[0]])
            )
        s_lang: dict[str, int] = {}
        for r in rows:
            s_lang[r[1]] = s_lang.get(r[1], 0) + r[3]
        for r in rows:
            r[3] = round0_half_up(
                float(r[3]) * float(t_lang[r[1]]) / float(s_lang[r[1]])
            )
    return literal_frame(
        spark,
        [tuple(r) for r in rows],
        "source string, lang string, n bigint, w_micro bigint",
    ).orderBy("source", "lang")
