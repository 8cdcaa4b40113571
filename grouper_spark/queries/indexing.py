"""Corpus-organization battery: deterministic shuffle-sharding, inverted
index construction, and n-gram diversity scoring.

These are the steps between "curated corpus" and "training run": a
reproducible global shuffle that any worker can recompute (no RNG state
to ship), the retrieval index the data tooling queries, and the
diversity metric that flags TEMPLATE-heavy sources. All hash ordering
uses md5 hex strings compared lexicographically — engine-portable, no
hex→int conversion, stable at any scale.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.text import md5_bits, tokens
from ..sources import table
from . import query
from ..operators.core import literal_frame

_N_POSTINGS = 5


@query(
    "q133_shuffle_shard",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source,
         md5(concat('seed42|', CAST(doc_id AS VARCHAR))) AS hk
  FROM documents
)
SELECT doc_id,
       CAST(position(substr(hk, 1, 1) IN '0123456789abcdef') - 1 AS INT)
         AS shard,
       CAST(row_number() OVER (
         PARTITION BY position(substr(hk, 1, 1) IN '0123456789abcdef')
         ORDER BY hk, doc_id) AS BIGINT) AS shard_pos,
       source
FROM keyed
ORDER BY shard, shard_pos
""",
    tags=("indexing", "shuffle"),
)
def q133_shuffle_shard(spark, sf_dir):
    """Deterministic corpus shuffle + sharding: order by a seeded md5 of
    the key, assign 16 shards by the first hex nibble, and number rows
    within each shard — a reproducible global shuffle with no RNG state
    (any worker recomputes its shard from the seed alone; epoch = new
    seed). Shard assignment is pure map-side projection; the only
    shuffle is the per-shard window, which at scale is
    repartitionByRange on (shard, hash) feeding a sorted write."""
    d = table(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.lit("seed42|"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", "source", hk.alias("hk")).withColumn(
        "shard",
        F.expr("CAST(instr('0123456789abcdef', substring(hk, 1, 1)) - 1 AS INT)"),
    )
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        keyed.select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("bigint").alias("shard_pos"),
            "source",
        )
        .orderBy("shard", "shard_pos")
    )


@query(
    "q135_inverted_index",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(
    list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
  ) AS term
  FROM documents
)
SELECT term,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(COUNT(*) AS BIGINT) AS tf_total,
       array_to_string(
         list_transform(
           (list(DISTINCT doc_id ORDER BY doc_id))[1:{_N_POSTINGS}],
           x -> CAST(x AS VARCHAR)),
         ',') AS posting_head
FROM tok
GROUP BY term
ORDER BY term
""",
    tags=("indexing", "text"),
)
def q135_inverted_index(spark, sf_dir):
    """Inverted-index build: per term, document frequency, total term
    frequency, and the head of the sorted posting list (serialized, so
    the driver gate can hash it). One explode + one groupBy — the
    posting list is bounded by slice() before serialization, so a
    stop-word's mega-posting never materializes in the output row; at
    scale the full postings would write to a term-bucketed sink instead
    of a string column, same plan shape."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    return (
        tok.groupBy("term")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("df"),
            F.count("*").cast("bigint").alias("tf_total"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_set("doc_id")), 1, _N_POSTINGS
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head"),
        )
        .orderBy("term")
    )


@query(
    "q136_ngram_diversity",
    oracle="""
WITH tok AS (
  SELECT doc_id, source,
         unnest(generate_series(1, len(toks))) AS pos,
         unnest(toks) AS w
  FROM (
    SELECT doc_id, source,
           list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
             AS toks
    FROM documents
  )
), tri AS (
  SELECT source,
         concat(w, ' ', lead(w, 1) OVER win, ' ', lead(w, 2) OVER win)
           AS gram,
         lead(w, 2) OVER win AS w3
  FROM tok
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
       round(CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*), 6)
         AS distinct_ratio
FROM tri
WHERE w3 IS NOT NULL
GROUP BY source
ORDER BY source
""",
    tags=("indexing", "text", "quality"),
)
def q136_ngram_diversity(spark, sf_dir):
    """Distinct-n diversity (distinct trigrams / total trigrams) per
    source — the repetition metric that flags template-generated or
    boilerplate-heavy sources before they dilute a training mix (low
    ratio = low diversity). Trigrams stream out of two lead() windows
    over the exploded token stream — one doc_id shuffle, no self-join —
    and the ratio is a division of exact counts."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.posexplode(tokens("text")).alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    tri = tok.select(
        "source",
        F.concat_ws(
            " ", F.col("w"), F.lead("w", 1).over(win), F.lead("w", 2).over(win)
        ).alias("gram"),
        F.lead("w", 2).over(win).alias("w3"),
    ).filter(F.col("w3").isNotNull())
    return (
        tri.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("total_grams"),
            F.count_distinct("gram").cast("bigint").alias("distinct_grams"),
            F.round(
                F.count_distinct("gram").cast("double") / F.count("*"), 6
            ).alias("distinct_ratio"),
        )
        .orderBy("source")
    )


@query(
    "q151_approx_topk_merge",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
FROM tok
GROUP BY token
ORDER BY cnt DESC, token
""",
    tags=("indexing", "sketch"),
)
def q151_approx_topk_merge(spark, sf_dir):
    """Mergeable frequent-items sketch (approx_top_k family): each
    source partition ACCUMULATEs its own sketch, the per-source sketches
    COMBINE into one, and a final ESTIMATE reads the merged heavy
    hitters — the two-level pattern that makes heavy-hitter detection a
    map-side-combinable aggregate at 100 TB (per-shard sketches merge on
    one tiny shuffle; the raw token stream never re-shuffles). Capacity
    (64) exceeds the corpus NDV, so the sketch is provably exact here
    and the exact GROUP BY is a true oracle; at scale you shrink
    capacity and trade exactness for fixed memory — same plan shape."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    )
    acc = tok.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(token, 64)").alias("acc")
    )
    est = acc.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(acc), 64)").alias(
            "tk"
        )
    )
    return (
        est.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("bigint").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), "token")
    )


@query(
    "q161_countmin_sketch",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), hashed AS (
  SELECT token, r.r,
         CAST(('0x' || substr(md5(token || '#' || r.r), 1, 4)) AS BIGINT)
           % 64 AS bucket
  FROM tok, (SELECT unnest(range(0, 4)) AS r) r
), cells AS (
  SELECT r, bucket, COUNT(*) AS c FROM hashed GROUP BY r, bucket
), keys_ AS (
  SELECT DISTINCT token FROM tok
), probes AS (
  SELECT k.token, r.r,
         CAST(('0x' || substr(md5(k.token || '#' || r.r), 1, 4)) AS BIGINT)
           % 64 AS bucket
  FROM keys_ k, (SELECT unnest(range(0, 4)) AS r) r
), est AS (
  SELECT p.token, MIN(c.c) AS cms_est
  FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
  GROUP BY p.token
), exact_ AS (
  SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token
)
SELECT e.token,
       CAST(x.exact_cnt AS BIGINT) AS exact_cnt,
       CAST(e.cms_est AS BIGINT) AS cms_est,
       CAST(e.cms_est - x.exact_cnt AS BIGINT) AS overcount
FROM est e JOIN exact_ x USING (token)
ORDER BY e.token
""",
    tags=("indexing", "sketch"),
)
def q161_countmin_sketch(spark, sf_dir):
    """Count–Min sketch built from relational primitives: 4 hash rows
    x 64 buckets, each cell a plain COUNT — so the whole sketch is one
    map-side-combinable groupBy (cells merge by addition across shards,
    the property that makes CMS THE streaming frequency sketch), and a
    point query is min over the 4 cells the key hashes to. Hashes are
    md5-derived, so both engines build bit-identical sketches; the
    output cross-checks every key's estimate against its exact count —
    CMS never undercounts (overcount >= 0 always) and collisions show
    up as positive overcount. 4x64 BIGINTs summarize any corpus size:
    the 100 TB frequency table in 2 KB of state."""
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    rs = spark.range(4).select(F.col("id").cast("int").alias("r"))
    bucket = (md5_bits(F.concat_ws("#", F.col("token"), F.col("r")), 4) % 64)
    hashed = tok.crossJoin(F.broadcast(rs)).select(
        "token", "r", bucket.alias("bucket")
    )
    cells = hashed.groupBy("r", "bucket").agg(F.count("*").alias("c"))
    keys_ = tok.select("token").distinct()
    probes = keys_.crossJoin(F.broadcast(rs)).select(
        "token", "r", bucket.alias("bucket")
    )
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("token")
        .agg(F.min("c").alias("cms_est"))
    )
    exact_ = tok.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    return (
        est.join(exact_, "token")
        .select(
            "token",
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("cms_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy("token")
    )


@query(
    "q198_tfidf_knn",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), idf AS (
  SELECT tok, CAST(ROUND(ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                             / CAST(COUNT(*) AS DOUBLE)) * 1000000.0, 0)
                   AS BIGINT) AS idf_micro
  FROM tf GROUP BY tok
), w AS (
  SELECT tf.doc_id, tf.tok, tf.tf * idf.idf_micro AS wm
  FROM tf JOIN idf USING (tok)
), norm2 AS (
  SELECT doc_id, CAST(SUM(wm * wm) AS BIGINT) AS n2 FROM w GROUP BY doc_id
), dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.wm * b.wm) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT d.doc_a, d.doc_b,
         round(CAST(d.dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE)) / sqrt(CAST(nb.n2 AS DOUBLE)),
               4) AS cosine_r
  FROM dots d
  JOIN norm2 na ON na.doc_id = d.doc_a
  JOIN norm2 nb ON nb.doc_id = d.doc_b
), ranked AS (
  SELECT doc_a, doc_b, cosine_r,
         row_number() OVER (PARTITION BY doc_a
                            ORDER BY cosine_r DESC, doc_b) AS rk
  FROM scored WHERE doc_a < 20
)
SELECT doc_a, CAST(rk AS INT) AS rk, doc_b, cosine_r
FROM ranked WHERE rk <= 3
ORDER BY doc_a, rk
""",
    tags=("indexing", "similarity"),
)
def q198_tfidf_knn(spark, sf_dir):
    """Sparse TF-IDF cosine k-nearest-neighbors — document similarity
    without embeddings, the retrieval twin of the BM25 query. The dot
    products come from a POSTING-LIST equi-join on the token (docs
    sharing no token never meet — never doc x doc), weights are
    fixed-pointed (tf x micro-idf as BIGINT) before any sum so the dot
    and norm aggregations are order-independent and engine-exact, and
    the only floats are the final sqrt/divide on exact integers (IEEE
    correctly-rounded, deterministic cross-engine). Top-3 per query doc
    via one window over the (bounded) scored candidates. At corpus
    scale the token join IS the sparse-matrix product A·Aᵀ restricted
    to nonzero-overlap pairs. Delegates to ``operators.similarity.
    tfidf_knn``, whose ``max_df`` stop-token cap bounds the posting
    lists in the general (all-pairs) path — the fixture vocabulary is
    small enough to skip the cap HERE, so scores stay exactly
    comparable to the oracle (the cap's behavior is unit-tested on a
    synthetic hot-token corpus instead)."""
    from ..operators.similarity import tfidf_knn

    return tfidf_knn(
        table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        k=3,
        query_max_id=20,
        max_df=None,  # fixture vocab is small; cap engages in the general path
    )


@query(
    "q303_consistent_hashing_audit",
    oracle="""
WITH keys AS (
  SELECT o_orderkey AS k,
         ('0x' || substr(md5('ring|' || CAST(o_orderkey AS VARCHAR)),
                         1, 15))::BIGINT AS pos
  FROM orders
), ring_assign AS (
  SELECT k,
         CAST(pos % 1000 * 8 // 1000 AS BIGINT) AS ring8,
         CAST(pos % 1000 * 9 // 1000 AS BIGINT) AS ring9,
         CAST(pos % 8 AS BIGINT) AS mod8,
         CAST(pos % 9 AS BIGINT) AS mod9
  FROM keys
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN ring8 != ring9 THEN 1 ELSE 0 END) AS BIGINT)
         AS moved_ring,
       CAST(SUM(CASE WHEN mod8 != mod9 THEN 1 ELSE 0 END) AS BIGINT)
         AS moved_mod,
       round(CAST(SUM(CASE WHEN ring8 != ring9 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS ring_moved_frac_r,
       round(CAST(SUM(CASE WHEN mod8 != mod9 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS mod_moved_frac_r
FROM ring_assign
""",
    tags=("indexing", "systems"),
)
def q303_consistent_hashing_audit(spark, sf_dir):
    """Consistent-hashing rebalance audit — the systems argument made
    measurable on real keys: growing a cluster 8 -> 9 nodes, a
    RANGE-partitioned hash ring (position scaled into equal arcs)
    moves ~1/9 of keys, while naive mod-N placement reshuffles ~8/9 of
    them — an order of magnitude more cache/state invalidation for the
    same scale-out. Both placements are evaluated for every order key
    in ONE projection pass (md5 ring positions, integer arc
    arithmetic with // so both engines floor identically), and the
    audit reports exact moved counts side by side. The number a
    storage team shows whoever proposes hash(key) % N sharding."""
    o = table(spark, sf_dir, "orders")
    ring_assign = o.select(
        F.expr(
            "CAST(conv(substring(md5(concat('ring|',"
            " CAST(o_orderkey AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("pos")
    ).select(
        F.expr("pos % 1000 * 8 div 1000").cast("bigint").alias("ring8"),
        F.expr("pos % 1000 * 9 div 1000").cast("bigint").alias("ring9"),
        (F.col("pos") % 8).cast("bigint").alias("mod8"),
        (F.col("pos") % 9).cast("bigint").alias("mod9"),
    )
    moved_ring = (F.col("ring8") != F.col("ring9")).cast("int")
    moved_mod = (F.col("mod8") != F.col("mod9")).cast("int")
    return ring_assign.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum(moved_ring).cast("bigint").alias("moved_ring"),
        F.sum(moved_mod).cast("bigint").alias("moved_mod"),
        F.round(
            F.sum(moved_ring).cast("double") / F.count("*"), 6
        ).alias("ring_moved_frac_r"),
        F.round(
            F.sum(moved_mod).cast("double") / F.count("*"), 6
        ).alias("mod_moved_frac_r"),
    )


_KMV_K = 64


@query(
    "q330_bottomk_distinct_sketch",
    oracle=f"""
WITH sh AS (
  SELECT DISTINCT source,
         ('0x' || substr(md5('kmv|' || array_to_string(list_slice(
            string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')),
            1, 15))::BIGINT AS h
  FROM documents,
       unnest(generate_series(1, len(string_split_regex(trim(text),
              '\\s+')) - 2)) t(i)
), exact AS (
  SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact FROM sh
), direct_k AS (
  SELECT h FROM (SELECT DISTINCT h FROM sh) ORDER BY h LIMIT {_KMV_K}
), direct AS (
  SELECT CAST(MAX(h) AS BIGINT) AS kth FROM direct_k
), per_source_k AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rk
  FROM (SELECT DISTINCT source, h FROM sh)
), merged_k AS (
  SELECT h FROM (SELECT DISTINCT h FROM per_source_k
                 WHERE rk <= {_KMV_K})
  ORDER BY h LIMIT {_KMV_K}
), merged AS (
  SELECT CAST(MAX(h) AS BIGINT) AS kth FROM merged_k
)
SELECT e.n_exact,
       CAST(d.kth AS BIGINT) AS kth_direct,
       CAST(m.kth AS BIGINT) AS kth_merged,
       CAST(CASE WHEN d.kth = m.kth THEN 1 ELSE 0 END AS INT)
         AS merge_exactness,
       round(({_KMV_K} - 1.0)
             / (CAST(d.kth AS DOUBLE) / 1152921504606846976.0), 6)
         AS est_distinct_r,
       round((({_KMV_K} - 1.0)
              / (CAST(d.kth AS DOUBLE) / 1152921504606846976.0)
              - e.n_exact) / e.n_exact, 6) AS rel_err_r
FROM exact e CROSS JOIN direct d CROSS JOIN merged m
""",
    tags=("indexing", "sketch", "eval"),
)
def q330_bottomk_distinct_sketch(spark, sf_dir):
    """Bottom-k (KMV) distinct-count sketch — the mergeable
    cardinality sketch that, unlike HLL (q123, rows-only forever), IS
    oracle-checkable, because its state is just the k smallest hash
    values: deterministic integers any engine reproduces. Three
    claims proven in one query: the estimate (k-1)/normalized-kth-min
    lands near the exact distinct shingle count (rel_err shown); the
    sketch MERGES exactly — per-source bottom-64 lists unioned and
    re-truncated yield bit-identically the direct global bottom-64
    (merge_exactness = 1, the property that makes per-partition
    sketches roll up losslessly); and all of it costs one distinct
    shuffle + k-row windows. At 100 TB this is the
    distinct-count-with-audit-trail alternative to HLL when you need
    to EXPLAIN the estimate to someone."""
    from pyspark.sql import Window

    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    d = table(spark, sf_dir, "documents")
    sh = (
        ensure_parallelism(d)
        .select(
            "source",
            F.explode_outer(word_shingles("text", 3)).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .select(
            "source",
            md5_bits(F.concat(F.lit("kmv|"), F.col("shingle")), 15).alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    hs = sh.select("h").distinct().localCheckpoint(eager=False)
    exact = hs.agg(F.count("*").cast("bigint").alias("n_exact"))
    direct = (
        hs.orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").cast("bigint").alias("kth_direct"))
    )
    wsrc = Window.partitionBy("source").orderBy("h")
    merged = (
        sh.withColumn("rk", F.row_number().over(wsrc))
        .filter(F.col("rk") <= _KMV_K)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(_KMV_K)
        .agg(F.max("h").cast("bigint").alias("kth_merged"))
    )
    scale = float(1 << 60)
    est = (_KMV_K - 1.0) / (F.col("kth_direct").cast("double") / scale)
    return (
        exact.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(merged))
        .select(
            "n_exact",
            "kth_direct",
            "kth_merged",
            (F.col("kth_direct") == F.col("kth_merged"))
            .cast("int")
            .alias("merge_exactness"),
            F.round(est, 6).alias("est_distinct_r"),
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err_r"),
        )
    )


@query(
    "a399_lsh_band_optimizer",
    oracle="""
WITH grid AS (
  SELECT b, r FROM (VALUES (4, 2), (4, 4), (8, 2), (8, 4), (8, 8),
                           (16, 2), (16, 4), (32, 2), (32, 4), (64, 2))
       AS t(b, r)
), scored AS (
  SELECT b, r, b * r AS n_hashes,
         -- capture probability 1-(1-j^r)^b at j=threshold and at the
         -- near-miss level, from exact integer (b, r) literals
         1.0 - pow(1.0 - pow(0.8, r), b) AS p_at_t,
         1.0 - pow(1.0 - pow(0.5, r), b) AS p_at_miss
  FROM grid
)
SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
       CAST(n_hashes AS BIGINT) AS n_hashes,
       round(p_at_t, 6) AS recall_at_080_r,
       round(p_at_miss, 6) AS fp_at_050_r,
       round(p_at_t - p_at_miss, 6) AS separation_r
FROM scored
ORDER BY separation_r DESC, n_hashes, b
""",
    tags=("indexing", "lsh", "planning"),
)
def a399_lsh_band_optimizer(spark, sf_dir):
    """LSH banding-parameter optimizer — the planning table that picks
    (bands b, rows r) BEFORE running a q35/q238 dedup job: for each
    candidate configuration, the analytic S-curve capture probability
    1−(1−jʳ)ᵇ evaluated at the dedup threshold (j=0.8, want ≈1) and
    at the near-miss level (j=0.5, want ≈0), ranked by separation
    with hash budget b·r as the tiebreak cost. q305 MEASURES the
    S-curve a chosen config produced; this chooses the config — the
    before/after pair of LSH tuning. pow on exact integer-literal
    exponents is deterministic cross-engine (both delegate to libm
    pow on identical inputs; verified by the hash gate). Ten-row
    compute-only output; sf_dir is accepted for signature parity."""
    grid = literal_frame(
        spark,
        [(4, 2), (4, 4), (8, 2), (8, 4), (8, 8),
         (16, 2), (16, 4), (32, 2), (32, 4), (64, 2)],
        "b int, r int",
    )
    p = lambda j: 1.0 - F.pow(  # noqa: E731
        1.0 - F.pow(F.lit(j), F.col("r")), F.col("b")
    )
    return (
        grid.select(
            F.col("b").cast("bigint").alias("b"),
            F.col("r").cast("bigint").alias("r"),
            (F.col("b") * F.col("r")).cast("bigint").alias("n_hashes"),
            F.round(p(0.8), 6).alias("recall_at_080_r"),
            F.round(p(0.5), 6).alias("fp_at_050_r"),
            F.round(p(0.8) - p(0.5), 6).alias("separation_r"),
        )
        .orderBy(F.col("separation_r").desc(), "n_hashes", "b")
    )


_HLL_M = 256  # registers
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / 256)  # alpha_256, embedded literal


@query(
    "a567_hll_oracled",
    oracle=f"""
WITH vals AS (
  SELECT DISTINCT l_orderkey AS v FROM lineitem
), hashed AS (
  SELECT v,
         ('0x' || substr(md5('hll|' || CAST(v AS VARCHAR)), 1, 15))::BIGINT
           AS h
  FROM vals
), reg AS (
  SELECT h % {_HLL_M} AS bucket,
         CASE WHEN h // {_HLL_M} = 0 THEN 53
              ELSE 53 - len(bin(h // {_HLL_M})) END AS rank
  FROM hashed
), regs AS (
  SELECT bucket, CAST(MAX(rank) AS BIGINT) AS m_j FROM reg GROUP BY bucket
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_filled,
         CAST(SUM(1::BIGINT << CAST(53 - m_j AS INT)) AS BIGINT) AS sum_fp
  FROM regs
), exact AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM vals
)
SELECT e.n_exact, s.n_filled,
       CAST({_HLL_M} - s.n_filled AS BIGINT) AS n_empty,
       CAST(ROUND(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M}.0 * {_HLL_M}.0
                  * (1::BIGINT << 53)
                  / (s.sum_fp + ({_HLL_M} - s.n_filled)
                                 * (1::BIGINT << 53)), 0) AS BIGINT)
         AS hll_estimate,
       round((CAST(ROUND(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M}.0 * {_HLL_M}.0
                         * (1::BIGINT << 53)
                         / (s.sum_fp + ({_HLL_M} - s.n_filled)
                                        * (1::BIGINT << 53)), 0) AS BIGINT)
              - e.n_exact) / CAST(e.n_exact AS DOUBLE), 6) AS rel_err_r
FROM sums s CROSS JOIN exact e
""",
    tags=("indexing", "sketch"),
)
def a567_hll_oracled(spark, sf_dir):
    """HyperLogLog with a full exact-value oracle — the oracled twin of
    q123's native hll_sketch_agg (rows-only by necessity: Spark's
    sketch bytes aren't reproducible in SQL). md5-derived 60-bit
    hashes split into 256 bucket bits + a 52-bit window whose
    leading-zero rank comes from the BINARY-STRING length (bin() is
    exact in both engines; floor(log2) is libm and banned), registers
    are a plain max-per-bucket aggregate, and the harmonic sum
    Σ2^(−Mⱼ) is computed in EXACT fixed point as Σ2^(53−Mⱼ) BIGINTs —
    empty registers contribute 2⁵³ each — so the raw HLL estimate is
    bit-identical cross-engine (α₂₅₆ is a Python-embedded literal; the
    input cardinality ≥ 2.5m at every sf, so the small-range
    correction branch never applies, documented here). This is the
    100 TB COUNT DISTINCT workhorse: one shuffle to 256 registers,
    mergeable across any partitioning — the estimate's error vs exact
    is part of the output."""
    li = table(spark, sf_dir, "lineitem")
    vals = li.select(F.col("l_orderkey").alias("v")).distinct()
    h = md5_bits(F.concat(F.lit("hll|"), F.col("v").cast("string")), 15)
    hashed = vals.select(h.alias("h")).localCheckpoint(eager=False)
    reg = hashed.select(
        (F.col("h") % _HLL_M).alias("bucket"),
        F.when(F.expr(f"h div {_HLL_M}") == 0, F.lit(53))
        .otherwise(53 - F.length(F.expr(f"bin(h div {_HLL_M})")))
        .alias("rank"),
    )
    regs = reg.groupBy("bucket").agg(F.max("rank").cast("bigint").alias("m_j"))
    sums = regs.agg(
        F.count("*").cast("bigint").alias("n_filled"),
        F.sum(F.expr("shiftleft(1L, CAST(53 - m_j AS INT))"))
        .cast("bigint")
        .alias("sum_fp"),
    )
    exact = vals.agg(F.count("*").cast("bigint").alias("n_exact"))
    two53 = float(1 << 53)
    est = F.round(
        _HLL_ALPHA
        * float(_HLL_M)
        * float(_HLL_M)
        * two53
        / (
            F.col("sum_fp")
            + (_HLL_M - F.col("n_filled")) * F.lit(1 << 53)
        ),
        0,
    ).cast("bigint")
    return (
        sums.join(F.broadcast(exact))
        .select(
            "n_exact",
            "n_filled",
            (_HLL_M - F.col("n_filled")).cast("bigint").alias("n_empty"),
            est.alias("hll_estimate"),
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact").cast("double"), 6
            ).alias("rel_err_r"),
        )
    )
