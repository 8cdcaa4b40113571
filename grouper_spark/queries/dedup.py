"""Deduplication queries: exact, n-gram Jaccard, MinHash-LSH, SimHash.

The Jaccard query is the exact oracle-checked path; MinHash-LSH and
SimHash are the 100 TB approximate paths (deterministic, but their
xxhash64 seed space has no DuckDB equivalent → rows-only checks).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators import (
    canonicalize_exact,
    minhash_lsh_pairs,
    shingle_jaccard_pairs,
    simhash,
)
from ..functions.text import md5_bits, money
from ..sources import table
from . import query
from ..operators.core import literal_frame


@query(
    "q33_exact_dedup",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), canon AS (
  SELECT doc_id, fingerprint,
         MIN(doc_id) OVER (PARTITION BY fingerprint) AS canonical_id
  FROM fp
)
SELECT doc_id, fingerprint, canonical_id,
       CAST(doc_id != canonical_id AS INT) AS is_dup
FROM canon
ORDER BY doc_id
""",
    tags=("dedup",),
)
def q33_exact_dedup(spark, sf_dir):
    """Exact dedup mapping: every doc → min-id doc with identical
    normalized text (single shuffle on the md5 fingerprint)."""
    d = table(spark, sf_dir, "documents")
    out = canonicalize_exact(d, "doc_id", "text")
    return out.select("doc_id", "fingerprint", "canonical_id", "is_dup").orderBy(
        "doc_id"
    )


@query(
    "q34_ngram_jaccard",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 2), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, len(shingles) AS sh_size, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b,
         COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
       inter / (size_a + size_b - inter) AS jaccard
FROM pairs
ORDER BY jaccard DESC, doc_a, doc_b
LIMIT 20
""",
    tags=("dedup",),
)
def q34_ngram_jaccard(spark, sf_dir):
    """Exact pairwise 3-gram Jaccard, top-20 most similar pairs. Pair
    space comes from an equi-join on the shingle value — never a cross
    join — so candidate volume tracks true overlap, not corpus size."""
    d = table(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(d, "doc_id", "text", n=3)
    return (
        pairs.select(
            "doc_a", "doc_b", F.col("inter").cast("bigint").alias("inter"), "jaccard"
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@query("q35_minhash_lsh", oracle=None, tags=("dedup", "rows_only"))
def q35_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup candidates (16 perms, 4 bands): the scale path
    for corpus-wide near-dedup. Deterministic via seeded xxhash64; no SQL
    oracle because DuckDB lacks xxhash64."""
    d = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", n=3, num_perm=16, bands=4)
    return pairs.orderBy(F.col("est_jaccard").desc(), "doc_a", "doc_b").limit(50)


@query("q36_simhash", oracle=None, tags=("dedup", "rows_only"))
def q36_simhash(spark, sf_dir):
    """Per-document 16-bit SimHash (token-hash sign aggregation) — emits
    the hash itself; banded Hamming pair search lives in
    operators.dedup.simhash_pairs."""
    d = table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", bits=16).orderBy("doc")


@query(
    "q63_dedup_clusters",
    oracle="""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 2), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, len(shingles) AS sh_size, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  WHERE inter / (size_a + size_b - inter) >= 0.5
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
  WHERE inter / (size_a + size_b - inter) >= 0.5
), reach(doc, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
)
SELECT doc, MIN(label) AS cluster_id FROM reach
GROUP BY doc
ORDER BY doc
""",
    tags=("dedup", "iterative"),
)
def q63_dedup_clusters(spark, sf_dir):
    """Transitive near-dup clustering: connected components over the
    jaccard>=0.5 pair graph by iterative min-label propagation
    (localCheckpoint per round — lineage stays flat). The oracle is a
    DuckDB recursive CTE computing the same min-reachable-id labels."""
    from ..operators import dedup_clusters

    d = table(spark, sf_dir, "documents")
    out = dedup_clusters(d, "doc_id", "text", n=3, threshold=0.5)
    return out.select(F.col("doc").alias("doc"), "cluster_id").orderBy("doc")


@query(
    "q134_cluster_canonical",
    oracle="""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 2), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, len(shingles) AS sh_size, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sh_size AS size_a, b.sh_size AS size_b, COUNT(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  WHERE inter / (size_a + size_b - inter) >= 0.5
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
  WHERE inter / (size_a + size_b - inter) >= 0.5
), reach(doc, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc
), labels AS (
  SELECT doc, MIN(label) AS cluster_id FROM reach GROUP BY doc
), ranked AS (
  SELECT l.cluster_id, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY d.n_chars DESC, d.doc_id) AS rk
  FROM labels l JOIN documents d ON d.doc_id = l.doc
)
SELECT cluster_id,
       CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
         AS canonical_doc,
       CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
         AS canonical_chars,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
""",
    tags=("dedup", "iterative", "curation"),
)
def q134_cluster_canonical(spark, sf_dir):
    """Canonical-document retention: after transitive near-dup
    clustering (q63's connected components), keep ONE representative per
    cluster — the longest document, doc_id tie-break — and report
    cluster sizes. This is the retention policy step of a dedup
    pipeline: cluster labels join back to the corpus on the doc key
    (one shuffle), and the representative is a row_number pick over the
    cluster partition. Composes the iterative operator with relational
    selection end-to-end."""
    from ..operators import dedup_clusters
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    labels = dedup_clusters(d, "doc_id", "text", n=3, threshold=0.5)
    joined = labels.join(
        d.select("doc_id", "n_chars"),
        labels["doc"] == F.col("doc_id"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    ranked = joined.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
            .cast("bigint")
            .alias("canonical_doc"),
            F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
            .cast("bigint")
            .alias("canonical_chars"),
            F.count("*").cast("bigint").alias("n_members"),
        )
        .orderBy("cluster_id")
    )


@query(
    "q145_prefix_filter_join",
    oracle="""
WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text), '\\s+')) - 2),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                           i, i + 2), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, len(shingles) AS n, unnest(shingles) AS token FROM sh
), inter AS (
  SELECT a.doc_id AS doc_a, a.n AS na, b.doc_id AS doc_b, b.n AS nb,
         COUNT(*) AS i
  FROM ex a JOIN ex b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
       i * 1.0 / (na + nb - i) AS jaccard
FROM inter
WHERE i * 10 >= (na + nb - i) * 9
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "join"),
)
def q145_prefix_filter_join(spark, sf_dir):
    """Set-similarity self-join with PREFIX FILTERING (PPJoin-lite):
    all document pairs whose 3-gram shingle-set Jaccard >= 0.9.

    The oracle brute-forces the full posting-list join; the Spark plan
    is the published scale recipe. Each doc's distinct shingles are
    ordered by global document frequency (rare first — the ordering key
    is the (df, shingle) tuple, so no global vocabulary sort is ever
    materialized); only the first n - ceil(0.9 n) + 1 shingles per doc
    enter the candidate equi-join. Any pair with J >= 0.9 provably
    shares a prefix shingle, while frequent shingles rarely reach a
    prefix — the classic mega-bucket blow-up disappears by construction
    rather than by a df cap. Shingle sets (not unigram token sets) are
    the right universe for prefix filtering: the fixture's 31-token
    vocabulary makes every unigram frequent, but its ~20k shingle
    universe has max df ~ tens, exactly the Zipf shape PPJoin exploits.
    Candidates then get an exact posting-list intersection count and
    the J >= 0.9 verify. ceil is integer-exact ((9n+9) div 10), never
    floating point."""
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    # single-file fixture scans plan one task; fan the CPU-dense
    # shingling out across cores (no-op on a many-split lake source)
    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    # Materialize the per-doc shingle arrays ONCE. Two reasons, both
    # load-bearing: (1) the array feeds two downstream branches (the df
    # aggregate and the prefix join) — without a barrier each branch
    # re-runs the regex shingling; (2) CollapseProject merges
    # size(shingles) into the Generate's child projection, re-evaluating
    # the full shingle expression per EXPLODED row instead of per doc
    # (~w× the work; measured 5.6s -> 0.15s on the sf0.1 explode).
    sh = (
        d.select("doc_id", word_shingles("text", 3).alias("shingles"))
        .localCheckpoint(eager=False)
        .withColumn("n", F.size("shingles"))
    )
    tok = sh.select("doc_id", "n", F.explode("shingles").alias("token"))
    # df via groupBy + join back (NOT a window over the token key): the
    # aggregate map-side-combines 2.5M exploded rows to a vocabulary-
    # sized table that AQE then broadcasts into the join, so the
    # exploded table itself is never shuffled on the token.
    df_ = tok.groupBy("token").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "token")
    pref = (
        tok.join(df_, "token")
        .withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.col("n") - ((F.col("n") * 9 + 9) / 10).cast("bigint") + 1
        )
        .select("doc_id", "token", "n")
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.least(F.col("a.n"), F.col("b.n")) * 10
            >= F.greatest(F.col("a.n"), F.col("b.n")) * 9
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        # candidate set is tiny and referenced three times downstream
        # (both sides of cand_ids + the verify join); checkpoint it so
        # the prefix pipeline — the expensive subtree — runs once
        # instead of once per reference (22 duplicated scans without it)
        .localCheckpoint(eager=False)
    )
    # verify: candidates are few, so fetch both shingle ARRAYS and
    # intersect in codegen — no second posting-list shuffle of the
    # whole corpus for the handful of surviving pairs. The checkpointed
    # shingle table serves both verify sides for free (no re-shingling);
    # the left-semi prune keeps the verify join build sides
    # candidate-sized.
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    shv = sh.join(cand_ids, "doc_id", "left_semi")
    sa = shv.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sha"),
        F.col("n").alias("na"),
    )
    sb = shv.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("shb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("i", inter)
        .filter(F.col("i") * 10 >= (F.col("na") + F.col("nb") - F.col("i")) * 9)
        .select(
            "doc_a",
            "doc_b",
            F.col("i").cast("bigint").alias("inter"),
            (
                F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q169_golden_record",
    oracle="""
WITH fp AS (
  SELECT doc_id, lang, source, n_chars, text,
         md5(array_to_string(list_sort(list_distinct(
           string_split_regex(lower(trim(text)), '\\s+'))), ' '))
           AS fingerprint
  FROM documents
)
SELECT fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       CAST(MAX(n_chars) AS BIGINT) AS best_n_chars,
       arg_min(source, doc_id) AS first_source,
       arg_max(lang, lpad(CAST(n_chars AS VARCHAR), 10, '0') || '-'
                     || lpad(CAST(10000000000 - doc_id
                                  AS VARCHAR), 11, '0'))
         AS best_lang
FROM fp
GROUP BY fingerprint
HAVING COUNT(*) > 1
ORDER BY fingerprint
""",
    tags=("dedup", "curation"),
)
def q169_golden_record(spark, sf_dir):
    """Golden-record survivorship over duplicate clusters — the MDM
    merge step after dedup: for each cluster of identical-fingerprint
    bag-of-words-identical documents (same distinct token set — the
    word-order-insensitive dup family), build the best single record
    field-by-field with
    different survivorship rules per field (min-id canonical, longest
    text length, source of the earliest member via arg_min, language of
    the longest member with a deterministic min-doc_id tiebreak encoded
    into the arg_max key). Everything is one map-side-combined groupBy
    on the fingerprint — survivorship never needs a self-join or a
    window, which is what keeps the merge a single shuffle at 100 TB."""
    d = table(spark, sf_dir, "documents")
    fp = d.withColumn(
        "fingerprint",
        F.md5(
            F.array_join(
                F.sort_array(
                    F.array_distinct(
                        F.split(F.lower(F.trim("text")), r"\s+")
                    )
                ),
                " ",
            )
        ),
    )
    # arg_max key: zero-padded n_chars (so '99' < '100' lexicographically)
    # with an inverted doc_id tiebreak, encoded so lexicographic order
    # matches the oracle's string key exactly
    tie_key = F.concat(
        F.lpad(F.col("n_chars").cast("string"), 10, "0"),
        F.lit("-"),
        F.lpad((F.lit(10000000000) - F.col("doc_id")).cast("string"), 11, "0"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.max("n_chars").cast("bigint").alias("best_n_chars"),
            F.min_by("source", "doc_id").alias("first_source"),
            F.max_by("lang", tie_key).alias("best_lang"),
        )
        .filter(F.col("n_members") > 1)
        .orderBy("fingerprint")
    )


@query(
    "q179_record_linkage",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         length(c_name) AS name_len
  FROM customer
), pairs AS (
  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
         CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 2 ELSE 0 END
         + CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0 THEN 2 ELSE 0 END
         + CASE WHEN a.name_len = b.name_len THEN 1 ELSE 0 END
           AS score
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.bal_band = b.bal_band
   AND a.c_custkey < b.c_custkey
)
SELECT cust_a, cust_b, CAST(score AS BIGINT) AS score
FROM pairs
WHERE score >= 4
ORDER BY score DESC, cust_a, cust_b
LIMIT 100
""",
    tags=("dedup", "join"),
)
def q179_record_linkage(spark, sf_dir):
    """Blocked record linkage (Fellegi–Sunter-lite): candidate customer
    pairs come ONLY from a blocking equi-join on (nation, $1000 balance
    band) — the classic linkage trick that replaces the O(n²) compare
    with per-block squares — then each candidate is scored by weighted
    field agreement (segment +2, balance within $100 +2, name length
    +1) and thresholded. Blocks are (nation × band)-keyed so their size
    grows with customer density per band, not corpus size; at 100 TB
    you add a second blocking pass on another key union-ed in (standard
    multi-pass blocking) rather than widening a block. One shuffle on
    the block key; the score is pure codegen arithmetic."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        F.length("c_name").alias("name_len"),
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    score = (
        F.when(F.col("a_c_mktsegment") == F.col("b_c_mktsegment"), 2).otherwise(0)
        + F.when(
            F.abs(F.col("a_c_acctbal") - F.col("b_c_acctbal")) < 100.0, 2
        ).otherwise(0)
        + F.when(F.col("a_name_len") == F.col("b_name_len"), 1).otherwise(0)
    )
    return (
        a.join(
            b,
            (F.col("a_c_nationkey") == F.col("b_c_nationkey"))
            & (F.col("a_bal_band") == F.col("b_bal_band"))
            & (F.col("a_c_custkey") < F.col("b_c_custkey")),
        )
        .select(
            F.col("a_c_custkey").alias("cust_a"),
            F.col("b_c_custkey").alias("cust_b"),
            score.cast("bigint").alias("score"),
        )
        .filter(F.col("score") >= 4)
        .orderBy(F.col("score").desc(), "cust_a", "cust_b")
        .limit(100)
    )


@query(
    "q188_multipass_blocking",
    oracle="""
WITH c AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         length(c_name) AS name_len
  FROM customer
), p1 AS (
  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey AND a.bal_band = b.bal_band
   AND a.c_custkey < b.c_custkey
), p2 AS (
  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b
  FROM c a JOIN c b
    ON a.c_mktsegment = b.c_mktsegment AND a.name_len = b.name_len
   AND a.bal_band = b.bal_band
   AND a.c_custkey < b.c_custkey
), cand AS (
  SELECT cust_a, cust_b,
         CAST(MAX(pass1) AS INT) AS in_pass1,
         CAST(MAX(pass2) AS INT) AS in_pass2
  FROM (
    SELECT cust_a, cust_b, 1 AS pass1, 0 AS pass2 FROM p1
    UNION ALL
    SELECT cust_a, cust_b, 0, 1 FROM p2
  )
  GROUP BY cust_a, cust_b
), scored AS (
  SELECT k.cust_a, k.cust_b, k.in_pass1, k.in_pass2,
         CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 2 ELSE 0 END
         + CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0 THEN 2 ELSE 0 END
         + CASE WHEN a.name_len = b.name_len THEN 1 ELSE 0 END AS score
  FROM cand k
  JOIN c a ON a.c_custkey = k.cust_a
  JOIN c b ON b.c_custkey = k.cust_b
)
SELECT cust_a, cust_b, CAST(score AS BIGINT) AS score, in_pass1, in_pass2
FROM scored
WHERE score >= 4
ORDER BY score DESC, cust_a, cust_b
LIMIT 100
""",
    tags=("dedup", "join"),
)
def q188_multipass_blocking(spark, sf_dir):
    """Multi-pass blocking for record linkage — the standard recall
    repair for q179's single blocking key: candidates are the UNION of
    two independent blocking passes ((nation, balance band) and
    (segment, name length, balance band)), deduped on the pair key with
    per-pass provenance flags, then scored once. Each pass stays an
    equi-join on its own block key (bounded per-block work); the union
    + groupBy dedup is the only extra shuffle, and scoring joins the
    deduped candidate set back to the record table by key. This is how
    production linkage recovers pairs a single noisy key misses without
    ever widening a block toward O(n²)."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        F.length("c_name").alias("name_len"),
    ).localCheckpoint(eager=False)

    def pairs(join_cond_cols, pass_flags):
        a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
        b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
        cond = F.col("a_c_custkey") < F.col("b_c_custkey")
        for col in join_cond_cols:
            cond &= F.col(f"a_{col}") == F.col(f"b_{col}")
        p1, p2 = pass_flags
        return a.join(b, cond).select(
            F.col("a_c_custkey").alias("cust_a"),
            F.col("b_c_custkey").alias("cust_b"),
            F.lit(p1).alias("pass1"),
            F.lit(p2).alias("pass2"),
        )

    cand = (
        pairs(["c_nationkey", "bal_band"], (1, 0))
        .unionAll(
            pairs(["c_mktsegment", "name_len", "bal_band"], (0, 1))
        )
        .groupBy("cust_a", "cust_b")
        .agg(
            F.max("pass1").cast("int").alias("in_pass1"),
            F.max("pass2").cast("int").alias("in_pass2"),
        )
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    score = (
        F.when(F.col("a_c_mktsegment") == F.col("b_c_mktsegment"), 2).otherwise(0)
        + F.when(
            F.abs(F.col("a_c_acctbal") - F.col("b_c_acctbal")) < 100.0, 2
        ).otherwise(0)
        + F.when(F.col("a_name_len") == F.col("b_name_len"), 1).otherwise(0)
    )
    return (
        cand.join(a, cand.cust_a == a.a_c_custkey)
        .join(b, cand.cust_b == b.b_c_custkey)
        .select(
            "cust_a",
            "cust_b",
            score.cast("bigint").alias("score"),
            "in_pass1",
            "in_pass2",
        )
        .filter(F.col("score") >= 4)
        .orderBy(F.col("score").desc(), "cust_a", "cust_b")
        .limit(100)
    )


@query(
    "q208_sorted_neighborhood",
    oracle="""
WITH s AS (
  SELECT c_custkey, c_nationkey,
         CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT) AS bal_cents,
         lead(c_custkey, 1) OVER w AS nk1,
         lead(CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT), 1) OVER w AS nb1,
         lead(c_custkey, 2) OVER w AS nk2,
         lead(CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT), 2) OVER w AS nb2
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey
               ORDER BY CAST(ROUND(c_acctbal * 100.0, 0) AS BIGINT),
                        c_custkey)
), pairs AS (
  SELECT c_nationkey, c_custkey AS key_a, nk1 AS key_b,
         abs(nb1 - bal_cents) AS gap_cents
  FROM s WHERE nk1 IS NOT NULL
  UNION ALL
  SELECT c_nationkey, c_custkey, nk2, abs(nb2 - bal_cents)
  FROM s WHERE nk2 IS NOT NULL
)
SELECT c_nationkey, key_a, key_b, CAST(gap_cents AS BIGINT) AS gap_cents,
       CAST(gap_cents <= 500 AS INT) AS candidate
FROM pairs
ORDER BY c_nationkey, key_a, key_b
""",
    tags=("dedup", "linkage"),
)
def q208_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking (the third blocking family next to
    q179's key blocking and q188's multi-pass union): records sorted by
    a proximity key — account balance within nation — are paired with
    their w = 2 forward neighbors via lead() frames, so candidate count
    is exactly w·n instead of the block-size-squared risk key blocking
    carries. The sort is PARTITIONED (per-nation windows): one shuffle
    on the partition key and each window sorts locally — never a global
    total order. Near-zero balance gaps flag linkage candidates."""
    from pyspark.sql import Window

    c = table(spark, sf_dir, "customer")
    bal = money("c_acctbal")
    s = c.select("c_custkey", "c_nationkey", bal.alias("bal_cents"))
    w = Window.partitionBy("c_nationkey").orderBy("bal_cents", "c_custkey")
    s = s.select(
        "*",
        F.lead("c_custkey", 1).over(w).alias("nk1"),
        F.lead("bal_cents", 1).over(w).alias("nb1"),
        F.lead("c_custkey", 2).over(w).alias("nk2"),
        F.lead("bal_cents", 2).over(w).alias("nb2"),
    )
    p1 = s.filter(F.col("nk1").isNotNull()).select(
        "c_nationkey",
        F.col("c_custkey").alias("key_a"),
        F.col("nk1").alias("key_b"),
        F.abs(F.col("nb1") - F.col("bal_cents")).alias("gap_cents"),
    )
    p2 = s.filter(F.col("nk2").isNotNull()).select(
        "c_nationkey",
        F.col("c_custkey").alias("key_a"),
        F.col("nk2").alias("key_b"),
        F.abs(F.col("nb2") - F.col("bal_cents")).alias("gap_cents"),
    )
    return (
        p1.unionAll(p2)
        .select(
            "c_nationkey",
            "key_a",
            "key_b",
            F.col("gap_cents").cast("bigint").alias("gap_cents"),
            (F.col("gap_cents") <= 500).cast("int").alias("candidate"),
        )
        .orderBy("c_nationkey", "key_a", "key_b")
    )


_MH_PERMS = 8  # 4 bands x 2 rows
_MH_HEX = 15  # 60-bit hash values — BIGINT-safe in both engines


def _mh_sql_hash(p: int) -> str:
    return (
        f"('0x' || substr(md5('mh{p}|' || sh), 1, {_MH_HEX}))::BIGINT"
    )


# Shared oracle-SQL prefix: shingles -> md5 signatures -> bands -> capped
# candidate pairs. q238 (index + estimate) and q246 (accuracy audit) both
# build on the identical candidate set.
_MH_SQL_CAND = (
    "WITH sh0 AS (\n"
    "  SELECT doc_id,\n"
    "         list_distinct(list_transform(\n"
    "           generate_series(1, len(string_split_regex(trim(text),"
    " '\\s+')) - 2),\n"
    "           i -> array_to_string(list_slice("
    "string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')\n"
    "         )) AS shingles\n"
    "  FROM documents\n"
    "), sh AS (\n"
    "  SELECT doc_id, unnest(shingles) AS sh FROM sh0\n"
    "), sigs AS (\n"
    "  SELECT doc_id,\n"
    + ",\n".join(
        f"         MIN({_mh_sql_hash(p)}) AS s{p}" for p in range(_MH_PERMS)
    )
    + "\n  FROM sh GROUP BY doc_id\n"
    "), bands AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, CAST(s{2 * b} AS VARCHAR) || ':' ||"
        f" CAST(s{2 * b + 1} AS VARCHAR) AS key FROM sigs"
        for b in range(_MH_PERMS // 2)
    )
    + "\n), bcnt AS (\n"
    "  SELECT band, key, COUNT(*) AS bc FROM bands GROUP BY band, key\n"
    "), cand AS (\n"
    "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
    "         CAST(COUNT(*) AS BIGINT) AS n_shared_bands\n"
    "  FROM bands a\n"
    "  JOIN bands b ON a.band = b.band AND a.key = b.key\n"
    "                  AND a.doc_id < b.doc_id\n"
    "  JOIN bcnt ON bcnt.band = a.band AND bcnt.key = a.key\n"
    "  WHERE bcnt.bc <= 64\n"
    "  GROUP BY doc_a, doc_b\n"
    ")\n"
)


def _minhash_components(spark, sf_dir, sh=None):
    """Spark half of the md5-MinHash pipeline: returns (sh, sigs, cand)
    — the distinct (doc, shingle) stream, the checkpointed signature
    table, and the banded candidate pairs (shared by q238/q246).

    ``sh`` lets a caller that already shingled the corpus (a404's
    truth side) pass its (doc_id, sh) stream in, so the corpus is
    tokenized+shingled ONCE per query instead of once per side — the
    shingle explode is the pipeline's dominant map stage (§2.3:
    project/compute once before the fan-out). Every consumer
    aggregates the stream, so row order is irrelevant."""
    from ..functions.text import word_shingles
    from ..operators import cooccurrence_pairs
    from ..operators.core import ensure_parallelism

    if sh is None:
        sh = (
            ensure_parallelism(table(spark, sf_dir, "documents"))
            .select(
                "doc_id",
                F.explode_outer(word_shingles("text", 3)).alias("sh"),
            )
            .filter(F.col("sh").isNotNull())
            .localCheckpoint(eager=False)
        )

    def perm_hash(p: int):
        return md5_bits(F.concat(F.lit(f"mh{p}|"), F.col("sh")), _MH_HEX)

    # sigs feeds the band explode and both pair-side joins; checkpoint
    # the doc-level signature table so the shingle+md5 pipeline runs once.
    sigs = sh.groupBy("doc_id").agg(
        *[F.min(perm_hash(p)).alias(f"s{p}") for p in range(_MH_PERMS)]
    ).localCheckpoint(eager=False)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    F.col(f"s{2 * b}").cast("string"),
                    F.col(f"s{2 * b + 1}").cast("string"),
                ).alias("key"),
            )
            for b in range(_MH_PERMS // 2)
        ]
    )
    bands = sigs.select(
        "doc_id", F.explode(band_arr).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = cooccurrence_pairs(
        bands, "doc_id", ["band", "key"], max_bucket=64
    ).select(
        F.col("u").alias("doc_a"),
        F.col("v").alias("doc_b"),
        F.col("i").cast("bigint").alias("n_shared_bands"),
    )
    return sh, sigs, cand


@query(
    "q238_minhash_oracled",
    oracle=_MH_SQL_CAND
    + "SELECT c.doc_a, c.doc_b, c.n_shared_bands,\n"
    "       CAST("
    + " + ".join(
        f"(CASE WHEN ha.s{p} = hb.s{p} THEN 1 ELSE 0 END)"
        for p in range(_MH_PERMS)
    )
    + " AS BIGINT) AS n_eq_sigs,\n"
    "       CAST("
    + " + ".join(
        f"(CASE WHEN ha.s{p} = hb.s{p} THEN 1 ELSE 0 END)"
        for p in range(_MH_PERMS)
    )
    + f" AS DOUBLE) / {_MH_PERMS}.0 AS est_jaccard\n"
    "FROM cand c\n"
    "JOIN sigs ha ON ha.doc_id = c.doc_a\n"
    "JOIN sigs hb ON hb.doc_id = c.doc_b\n"
    "ORDER BY doc_a, doc_b",
    tags=("dedup", "lsh"),
)
def q238_minhash_oracled(spark, sf_dir):
    """MinHash-LSH with a full exact-value oracle: the one LSH family
    whose entire pipeline — signatures, banding, candidate pairs,
    signature-agreement estimate — is reproduced value-for-value in
    SQL, because the permutation hashes are md5-derived 60-bit integers
    (the cross-engine-deterministic hash this repo already uses for
    splits and sampling) instead of q35's faster engine-native
    xxhash64. 8 permutations in 4 bands of 2: one shingle explode
    computes all 8 mins in a single map-side-combined groupBy, band
    keys fan out through the capped posting-list pair generator (shared
    with q146 — buckets over 64 members are dropped before any pair
    materializes, so a degenerate all-identical corpus cannot go
    quadratic), and candidates join back to the doc-level signature
    table for the estimated Jaccard. q35 stays the production path;
    this twin exists so the driver can hash-check the LSH machinery
    end-to-end rather than trusting rows-only evidence."""
    _, sigs, cand = _minhash_components(spark, sf_dir)
    ha = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{p}").alias(f"a{p}") for p in range(_MH_PERMS)],
    )
    hb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{p}").alias(f"b{p}") for p in range(_MH_PERMS)],
    )
    n_eq = sum(
        (F.col(f"a{p}") == F.col(f"b{p}")).cast("int") for p in range(_MH_PERMS)
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            n_eq.cast("bigint").alias("n_eq_sigs"),
            (n_eq.cast("double") / float(_MH_PERMS)).alias("est_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SH_BITS = 60  # signature width — BIGINT-safe in both engines
_SH_BAND = 15  # 4 bands x 15 bits


@query(
    "q239_simhash_oracled",
    oracle="WITH tok AS (\n"
    "  SELECT DISTINCT doc_id, unnest(string_split_regex(lower(trim(text)),"
    " '\\s+')) AS token\n"
    "  FROM documents\n"
    "), hashed AS (\n"
    "  SELECT doc_id,\n"
    f"         ('0x' || substr(md5('sh|' || token), 1, {_MH_HEX}))::BIGINT"
    " AS h\n"
    "  FROM tok WHERE token <> ''\n"
    "), sums AS (\n"
    "  SELECT doc_id,\n"
    + ",\n".join(
        f"         SUM(((h >> {b}) & 1) * 2 - 1) AS s{b}"
        for b in range(_SH_BITS)
    )
    + "\n  FROM hashed GROUP BY doc_id\n"
    "), sigs AS (\n"
    "  SELECT doc_id, CAST("
    + " + ".join(
        f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(_SH_BITS)
    )
    + " AS BIGINT) AS sig FROM sums\n"
    "), bands AS (\n"
    + "\n  UNION ALL\n".join(
        f"  SELECT doc_id, sig, {b} AS band,"
        f" CAST((sig >> {b * _SH_BAND}) & {(1 << _SH_BAND) - 1} AS BIGINT)"
        " AS key FROM sigs"
        for b in range(_SH_BITS // _SH_BAND)
    )
    + "\n), bcnt AS (\n"
    "  SELECT band, key, COUNT(*) AS bc FROM bands GROUP BY band, key\n"
    "), cand AS (\n"
    "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
    "         CAST(COUNT(*) AS BIGINT) AS n_shared_bands,\n"
    "         MIN(a.sig) AS sig_a, MIN(b.sig) AS sig_b\n"
    "  FROM bands a\n"
    "  JOIN bands b ON a.band = b.band AND a.key = b.key\n"
    "                  AND a.doc_id < b.doc_id\n"
    "  JOIN bcnt ON bcnt.band = a.band AND bcnt.key = a.key\n"
    "  WHERE bcnt.bc <= 256\n"
    "  GROUP BY doc_a, doc_b\n"
    ")\n"
    "SELECT doc_a, doc_b, n_shared_bands,\n"
    "       CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming\n"
    "FROM cand\n"
    "WHERE bit_count(xor(sig_a, sig_b)) <= 12\n"
    "ORDER BY doc_a, doc_b",
    tags=("dedup", "lsh"),
)
def q239_simhash_oracled(spark, sf_dir):
    """SimHash near-dup with a full exact-value oracle — q36's twin the
    same way q238 twins q35. 60-bit signatures from md5-derived token
    hashes: the per-bit +/-1 sums are 60 aggregate expressions in ONE
    map-side-combined groupBy over the distinct (doc, token) stream (no
    bit-explode — the row count never multiplies by signature width),
    the signature assembles in codegen as a BIGINT, and 4 bands of 15
    bits feed the capped posting-list pair generator, so a band bucket
    can never go quadratic. Survivors popcount the XOR of the two
    signatures (exact in both engines) and keep Hamming <= 12. At
    100 TB: one token shuffle + one band shuffle, candidates bounded by
    bucket cap x bucket count, signature table is docs x 8 bytes."""
    d = table(spark, sf_dir, "documents")
    from ..operators import cooccurrence_pairs
    from ..operators.core import ensure_parallelism

    tok = (
        ensure_parallelism(d)
        .select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.trim("text")), r"\s+"),
                        lambda t: t != "",
                    )
                )
            ).alias("token"),
        )
        .filter(F.col("token").isNotNull())
    )
    h = md5_bits(F.concat(F.lit("sh|"), F.col("token")), _MH_HEX)
    hashed = tok.select("doc_id", h.alias("h"))
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                (
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
                )
            ).alias(f"s{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = sum(
        F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(_SH_BITS)
    ).cast("bigint")
    # three references (bands, sig_a, sig_b) — checkpoint so the token
    # hash + 60-bit-sum pipeline computes once.
    sigs = sums.select("doc_id", sig.alias("sig")).localCheckpoint(eager=False)
    mask = (1 << _SH_BAND) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * _SH_BAND)
                .bitwiseAND(F.lit(mask))
                .cast("bigint")
                .alias("key"),
            )
            for b in range(_SH_BITS // _SH_BAND)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_arr).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cand = cooccurrence_pairs(
        bands, "doc_id", ["band", "key"], max_bucket=256
    ).select(
        F.col("u").alias("doc_a"),
        F.col("v").alias("doc_b"),
        F.col("i").cast("bigint").alias("n_shared_bands"),
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("bigint")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 12)
        .select("doc_a", "doc_b", "n_shared_bands", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q246_minhash_accuracy_audit",
    oracle=_MH_SQL_CAND.rstrip()
    + """, szs AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh0
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.sh = x.sh
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       round(CAST(c.n_eq AS DOUBLE) / 8.0, 6) AS est_jaccard,
       round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
             / (sa.sz + sb.sz - COALESCE(i.inter, 0)), 6) AS true_jaccard,
       CAST(ROUND((CAST(c.n_eq AS DOUBLE) / 8.0
                   - CAST(COALESCE(i.inter, 0) AS DOUBLE)
                     / (sa.sz + sb.sz - COALESCE(i.inter, 0)))
                  * 1000000.0, 0) AS BIGINT) AS err_micro
FROM (
  SELECT cand.doc_a, cand.doc_b,
         """
    + " + ".join(
        f"(CASE WHEN ha.s{p} = hb.s{p} THEN 1 ELSE 0 END)"
        for p in range(_MH_PERMS)
    )
    + """ AS n_eq
  FROM cand
  JOIN sigs ha ON ha.doc_id = cand.doc_a
  JOIN sigs hb ON hb.doc_id = cand.doc_b
) c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN szs sa ON sa.doc_id = c.doc_a
JOIN szs sb ON sb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b""",
    tags=("dedup", "lsh", "eval"),
)
def q246_minhash_accuracy_audit(spark, sf_dir):
    """Sketch-accuracy evaluation harness: for every q238 LSH candidate
    pair, the signature-agreement Jaccard estimate next to the TRUE
    shingle-set Jaccard and their signed micro-unit error — the audit a
    pipeline owner runs before trusting a sketch family at corpus
    scale. The true intersection is computed ONLY for candidate pairs
    (the shingle stream equi-joins through the candidate set — never
    the all-pairs Jaccard), so the audit costs candidates x overlap,
    not corpus². Shares the signature/candidate machinery with q238
    (one checkpointed pipeline, three reads) and the exact set sizes
    come from the same shingle stream. Estimates at 8 permutations are
    coarse by design — the audit quantifies exactly how coarse."""
    sh, sigs, cand = _minhash_components(spark, sf_dir)
    szs = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    xa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    xb = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(xa, "doc_a")
        .join(xb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    ha = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"s{p}").alias(f"a{p}") for p in range(_MH_PERMS)],
    )
    hb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"s{p}").alias(f"b{p}") for p in range(_MH_PERMS)],
    )
    n_eq = sum(
        (F.col(f"a{p}") == F.col(f"b{p}")).cast("int")
        for p in range(_MH_PERMS)
    )
    est = n_eq.cast("double") / 8.0
    scored = (
        cand.select("doc_a", "doc_b")
        .join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est"))
    )
    sa = szs.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = szs.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    true_j = F.coalesce(F.col("inter"), F.lit(0)).cast("double") / (
        F.col("sza") + F.col("szb") - F.coalesce(F.col("inter"), F.lit(0))
    )
    return (
        scored.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("est"), 6).alias("est_jaccard"),
            F.round(true_j, 6).alias("true_jaccard"),
            money(F.col("est") - true_j, 6).alias("err_micro"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q279_containment_dedup",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text),
 '\\s+')) - 2),
           i -> array_to_string(list_slice(
string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sz AS sz_a, b.sz AS sz_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b, inter,
       CAST(sz_a AS BIGINT) AS sz_a,
       round(CAST(inter AS DOUBLE) / sz_a, 6) AS containment_r
FROM pairs
WHERE inter * 10 >= sz_a * 8
ORDER BY containment_r DESC, doc_a, doc_b
LIMIT 30
""",
    tags=("dedup",),
)
def q279_containment_dedup(spark, sf_dir):
    """Asymmetric containment dedup (excerpt / quotation detection):
    |shingles(A) ∩ shingles(B)| / |shingles(A)| >= 0.8 flags documents
    MOSTLY CONTAINED in another — the near-dup class symmetric Jaccard
    systematically misses, because a short excerpt inside a long
    document has tiny Jaccard but containment ~1.0 (why dedup
    pipelines run both: q34's symmetric pass and this directional
    one). Same posting-list equi-join machinery as q34 — candidate
    pairs only where shingles actually collide, never a cross join —
    but ORDERED pairs (A!=B, both directions scored) with the
    integer-exact 8/10 threshold applied by cross-multiplication
    before any float division."""
    from ..operators import shingle_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(d, "doc_id", "text", n=3)
    # shingle_jaccard_pairs emits unordered a<b pairs; containment is
    # directional, so score both orientations from the one pair table
    fwd = pairs.select(
        F.col("doc_a"),
        F.col("doc_b"),
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_a").cast("bigint").alias("sz_a"),
    )
    rev = pairs.select(
        F.col("doc_b").alias("doc_a"),
        F.col("doc_a").alias("doc_b"),
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_b").cast("bigint").alias("sz_a"),
    )
    both = fwd.unionAll(rev)
    return (
        both.filter(F.col("inter") * 10 >= F.col("sz_a") * 8)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sz_a",
            F.round(
                F.col("inter").cast("double") / F.col("sz_a"), 6
            ).alias("containment_r"),
        )
        .orderBy(F.col("containment_r").desc(), "doc_a", "doc_b")
        .limit(30)
    )


@query(
    "q305_lsh_scurve_audit",
    oracle=_MH_SQL_CAND.rstrip()
    + """, szs AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh0
), allpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS inter,
         MIN(sa.sz) AS sz_a, MIN(sb.sz) AS sz_b
  FROM sh a
  JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
  JOIN szs sa ON sa.doc_id = a.doc_id
  JOIN szs sb ON sb.doc_id = b.doc_id
  GROUP BY doc_a, doc_b
), binned AS (
  SELECT LEAST(CAST(9 AS BIGINT),
               CAST(floor(CAST(ap.inter AS DOUBLE)
                    / (ap.sz_a + ap.sz_b - ap.inter) * 10) AS BIGINT))
           AS j_bin,
         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand
  FROM allpairs ap
  LEFT JOIN cand c ON c.doc_a = ap.doc_a AND c.doc_b = ap.doc_b
)
SELECT j_bin,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
       round(CAST(SUM(is_cand) AS DOUBLE) / COUNT(*), 6) AS capture_r,
       round(1.0 - pow(1.0 - pow((j_bin + 0.5) / 10.0, 2.0), 4.0), 6)
         AS theory_r
FROM binned GROUP BY j_bin ORDER BY j_bin
""",
    tags=("dedup", "lsh", "eval"),
)
def q305_lsh_scurve_audit(spark, sf_dir):
    """The LSH S-curve, measured against theory: every shingle-sharing
    pair's TRUE Jaccard is binned, and per bin the fraction captured
    by q238's banded candidates sits next to the analytic capture
    probability 1-(1-j^r)^b for r=2, b=4 — the tuning chart that turns
    "how many bands do I need?" from folklore into a measured curve on
    YOUR corpus (real shingle-set Jaccards violate the independence
    the formula assumes; this audit shows by how much). Ground-truth
    pairs come from the q34 posting-list join (pairs exist only where
    shingles collide — the j=0 mass is irrelevant to recall and never
    materializes); candidates reuse the checkpointed q238 pipeline.
    Together with q246 (estimate accuracy) and q266 (ANN recall), the
    sketch stack is now audited on all three axes: candidate recall,
    estimate error, and threshold shape."""
    sh, _, cand = _minhash_components(spark, sf_dir)
    szs = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    allpairs = (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter"))
        .join(
            szs.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        )
        .join(
            szs.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
    )
    j = F.col("inter").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("inter")
    )
    j_bin = F.least(F.lit(9).cast("bigint"), (j * 10).cast("bigint"))
    flagged = allpairs.join(
        cand.select("doc_a", "doc_b").withColumn("is_cand", F.lit(1)),
        ["doc_a", "doc_b"],
        "left",
    ).select(
        j_bin.alias("j_bin"),
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
    )
    theory = F.round(
        1.0
        - F.pow(
            1.0 - F.pow((F.col("j_bin") + 0.5) / 10.0, 2.0), 4.0
        ),
        6,
    )
    return (
        flagged.groupBy("j_bin")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("is_cand").cast("bigint").alias("n_candidates"),
            F.round(
                F.sum("is_cand").cast("double") / F.count("*"), 6
            ).alias("capture_r"),
        )
        .withColumn("theory_r", theory)
        .orderBy("j_bin")
    )


@query(
    "q317_normalization_ladder",
    oracle="""
WITH fps AS (
  SELECT doc_id,
         md5(text) AS fp_raw,
         md5(lower(text)) AS fp_lower,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS fp_ws,
         md5(regexp_replace(regexp_replace(lower(trim(text)),
             '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')) AS fp_alnum
  FROM documents
), lv AS (
  SELECT 1 AS ord, 'raw' AS level,
         CAST(COUNT(*) - COUNT(DISTINCT fp_raw) AS BIGINT) AS n_dups
  FROM fps
  UNION ALL
  SELECT 2, 'lowercase',
         CAST(COUNT(*) - COUNT(DISTINCT fp_lower) AS BIGINT) FROM fps
  UNION ALL
  SELECT 3, 'collapse_ws',
         CAST(COUNT(*) - COUNT(DISTINCT fp_ws) AS BIGINT) FROM fps
  UNION ALL
  SELECT 4, 'alnum_only',
         CAST(COUNT(*) - COUNT(DISTINCT fp_alnum) AS BIGINT) FROM fps
)
SELECT level, n_dups,
       CAST(n_dups - lag(n_dups, 1, 0) OVER (ORDER BY ord) AS BIGINT)
         AS marginal_gain
FROM lv ORDER BY ord
""",
    tags=("dedup", "eval"),
)
def q317_normalization_ladder(spark, sf_dir):
    """Normalization-ladder dedup audit: duplicate counts under
    progressively aggressive canonicalization — raw bytes, lowercase,
    whitespace collapse, alphanumeric-only — with each rung's MARGINAL
    gain, answering the question every dedup pipeline hardcodes an
    answer to: which normalizations actually find duplicates on THIS
    corpus, and which just burn CPU and risk false merges? All four
    fingerprints compute in ONE projection over one scan (md5s of
    nested regex rewrites, pure codegen) and the ladder is a 4-row
    multi-distinct aggregate; the lag() gives marginal attribution in
    order of aggressiveness. The evidence behind q33's choice of
    lowercase+collapse as the canonical form."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    ws = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    alnum = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim("text")), r"[^a-z0-9 ]", ""),
        r"\s+",
        " ",
    )
    fps = d.select(
        F.md5("text").alias("fp_raw"),
        F.md5(lower).alias("fp_lower"),
        F.md5(ws).alias("fp_ws"),
        F.md5(alnum).alias("fp_alnum"),
    ).localCheckpoint(eager=False)
    levels = [
        (1, "raw", "fp_raw"),
        (2, "lowercase", "fp_lower"),
        (3, "collapse_ws", "fp_ws"),
        (4, "alnum_only", "fp_alnum"),
    ]
    rows = []
    for ord_, name, col in levels:
        rows.append(
            fps.agg(
                F.lit(ord_).alias("ord"),
                F.lit(name).alias("level"),
                (F.count("*") - F.count_distinct(F.col(col)))
                .cast("bigint")
                .alias("n_dups"),
            )
        )
    lv = rows[0]
    for r in rows[1:]:
        lv = lv.unionAll(r)
    w = Window.orderBy("ord")
    return (
        lv.select(
            "level",
            "n_dups",
            (F.col("n_dups") - F.lag("n_dups", 1, 0).over(w))
            .cast("bigint")
            .alias("marginal_gain"),
            "ord",
        )
        .orderBy("ord")
        .drop("ord")
    )


@query(
    "q325_dedup_threshold_curve",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(string_split_regex(trim(text),
 '\\s+')) - 2),
           i -> array_to_string(list_slice(
string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')
         )) AS shingles
  FROM documents
), ex AS (
  SELECT doc_id, len(shingles) AS sz, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS inter,
         MIN(a.sz) AS sz_a, MIN(b.sz) AS sz_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
), spine AS (
  SELECT CAST(t.t AS BIGINT) AS thr_pct
  FROM (VALUES (50), (60), (70), (80), (90)) t(t)
), ndocs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
)
SELECT s.thr_pct,
       CAST(SUM(CASE WHEN p.inter * 100 >=
                s.thr_pct * (p.sz_a + p.sz_b - p.inter)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
       round(CAST(SUM(CASE WHEN p.inter * 100 >=
                   s.thr_pct * (p.sz_a + p.sz_b - p.inter)
                   THEN 1 ELSE 0 END) AS DOUBLE) / d.n, 6)
         AS pairs_per_doc_r
FROM pairs p CROSS JOIN spine s CROSS JOIN ndocs d
GROUP BY s.thr_pct, d.n
ORDER BY s.thr_pct
""",
    tags=("dedup", "eval"),
)
def q325_dedup_threshold_curve(spark, sf_dir):
    """Dedup threshold sensitivity: duplicate-pair counts at five
    Jaccard cutoffs from ONE pair materialization — the curve that
    turns "we dedup at 0.8" from dogma into a decision (a cliff
    between 70 and 80 means the corpus has a natural near-dup band; a
    flat curve means the threshold barely matters). Thresholds apply
    by integer cross-multiplication (inter*100 >= t*(union)) against
    a broadcast spine, so all five cutoffs ride the same q34
    posting-list pair table with zero re-scans; pairs_per_doc
    normalizes for corpus size so curves compare across releases.
    The policy-layer companion to q305's recall S-curve: that tunes
    the SKETCH, this tunes the THRESHOLD."""
    from ..operators import shingle_jaccard_pairs

    d = table(spark, sf_dir, "documents")
    pairs = shingle_jaccard_pairs(d, "doc_id", "text", n=3).select(
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_a").cast("bigint").alias("sz_a"),
        F.col("size_b").cast("bigint").alias("sz_b"),
    ).localCheckpoint(eager=False)
    spine = literal_frame(
        spark,
        [(50,), (60,), (70,), (80,), (90,)], "thr_pct bigint"
    )
    ndocs = d.agg(F.count("*").cast("bigint").alias("n"))
    is_dup = (
        F.col("inter") * 100
        >= F.col("thr_pct") * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    ).cast("int")
    return (
        pairs.crossJoin(F.broadcast(spine))
        .crossJoin(F.broadcast(ndocs))
        .groupBy("thr_pct", "n")
        .agg(F.sum(is_dup).cast("bigint").alias("n_dup_pairs"))
        .select(
            "thr_pct",
            "n_dup_pairs",
            F.round(
                F.col("n_dup_pairs").cast("double") / F.col("n"), 6
            ).alias("pairs_per_doc_r"),
        )
        .orderBy("thr_pct")
    )


_OVL_N = 5  # shingle width for the source-overlap audit


@query(
    "a386_source_overlap_matrix",
    oracle=f"""
WITH grams AS (
  SELECT DISTINCT source,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
           || ' ' || ws[i+4] AS g
  FROM (SELECT source,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents),
       unnest(generate_series(1, len(ws) - {_OVL_N - 1})) AS t(i)
  WHERE len(ws) >= {_OVL_N}
), src_tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams
  GROUP BY source
), posting AS (
  SELECT g, list(source ORDER BY source) AS sources FROM grams GROUP BY g
), pairs AS (
  SELECT a.src AS src_a, b.src AS src_b, CAST(COUNT(*) AS BIGINT)
           AS shared
  FROM posting, unnest(sources) AS a(src), unnest(sources) AS b(src)
  WHERE a.src < b.src
  GROUP BY src_a, src_b
)
SELECT p.src_a, p.src_b, p.shared,
       round(CAST(p.shared AS DOUBLE) / ta.n_grams, 6) AS frac_of_a_r,
       round(CAST(p.shared AS DOUBLE) / tb.n_grams, 6) AS frac_of_b_r
FROM pairs p
JOIN src_tot ta ON ta.source = p.src_a
JOIN src_tot tb ON tb.source = p.src_b
WHERE p.shared >= 2
ORDER BY p.src_a, p.src_b
""",
    tags=("dedup", "governance"),
)
def a386_source_overlap_matrix(spark, sf_dir):
    """Inter-source contamination matrix — which SOURCES share verbatim
    {_OVL_N}-gram content (mirror sites, syndication, scraped copies):
    the corpus-governance view that q84's eval-decontamination and
    q104's span dedup don't give, because their unit is the document.
    Distinct (source, gram) postings group by gram; each gram's source
    list is bounded by the SOURCE COUNT (not document frequency!), so
    the pair explode is ≤ |S|²/2 per gram with no cap needed — the
    rare case where the quadratic is over an intrinsically small
    domain. Directional fractions (shared/|grams(a)|, /|grams(b)|)
    expose asymmetric copying (a small source wholly contained in a
    big one). One gram shuffle; output ≤ |S|² rows."""
    d = table(spark, sf_dir, "documents")
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    grams = (
        ensure_parallelism(d)
        .select(
            "source",
            F.explode(
                word_shingles(F.lower(F.trim("text")), _OVL_N)
            ).alias("g"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds totals + postings
    )
    src_tot = grams.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_grams")
    )
    posting = grams.groupBy("g").agg(
        F.sort_array(F.collect_list("source")).alias("sources")
    )
    pairs = (
        posting.select(
            F.explode("sources").alias("src_a"), "sources"
        )
        .select("src_a", F.explode("sources").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    ta = src_tot.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("na")
    )
    tb = src_tot.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("nb")
    )
    return (
        pairs.filter(F.col("shared") >= 2)
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "shared",
            F.round(
                F.col("shared").cast("double") / F.col("na"), 6
            ).alias("frac_of_a_r"),
            F.round(
                F.col("shared").cast("double") / F.col("nb"), 6
            ).alias("frac_of_b_r"),
        )
        .orderBy("src_a", "src_b")
    )


@query(
    "a394_set_similarity_battery",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'),
           x -> x <> '')) AS toks
  FROM documents WHERE doc_id < 40
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
         CAST(len(a.toks) AS BIGINT) AS na,
         CAST(len(b.toks) AS BIGINT) AS nb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, inter,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard_r,
       round(2.0 * inter / (na + nb), 6) AS dice_r,
       round(CAST(inter AS DOUBLE) / least(na, nb), 6) AS overlap_r
FROM pairs
WHERE inter > 0
ORDER BY jaccard_r DESC, doc_a, doc_b
LIMIT 25
""",
    tags=("dedup", "similarity"),
)
def a394_set_similarity_battery(spark, sf_dir):
    """Set-similarity measure battery — Jaccard, Dice, and the overlap
    (containment) coefficient computed side by side on the SAME
    intersection counts: the three thresholds dedup policies actually
    choose between (Jaccard punishes size mismatch, Dice softens it,
    overlap catches a small doc embedded in a big one — the a386/q279
    containment story at pair level). One bounded token-set self-join
    (doc_id < 40 keeps the pair table explicit; the scale path is the
    q34 posting-list generator feeding these same formulas), exact
    integer set sizes, three rounded ratios per pair."""
    from ..functions.text import tokens

    d = table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.array_distinct(tokens(F.lower(F.trim("text")))).alias("toks"),
        )
        .localCheckpoint(eager=False)
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ta", "tb")).cast("bigint").alias("inter"),
            F.size("ta").cast("bigint").alias("na"),
            F.size("tb").cast("bigint").alias("nb"),
        )
    )
    return (
        pairs.filter(F.col("inter") > 0)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard_r"),
            F.round(
                2.0 * F.col("inter") / (F.col("na") + F.col("nb")), 6
            ).alias("dice_r"),
            F.round(
                F.col("inter").cast("double") / F.least("na", "nb"), 6
            ).alias("overlap_r"),
        )
        .orderBy(F.col("jaccard_r").desc(), "doc_a", "doc_b")
        .limit(25)
    )


_PRF_T = 0.4  # true near-dup threshold for the evaluation


@query(
    "a404_lsh_prf_eval",
    oracle=_MH_SQL_CAND.rstrip()
    + f""", szs AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh0
), tp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON b.sh = a.sh AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
), truth AS (
  SELECT t.doc_a, t.doc_b
  FROM tp t JOIN szs x ON x.doc_id = t.doc_a
            JOIN szs y ON y.doc_id = t.doc_b
  WHERE CAST(t.inter AS DOUBLE) / (x.sz + y.sz - t.inter) >= {_PRF_T}
), pred AS (
  SELECT DISTINCT doc_a, doc_b FROM cand
), counts AS (
  SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
         CAST((SELECT COUNT(*) FROM pred) AS BIGINT) AS n_pred,
         CAST((SELECT COUNT(*) FROM pred p JOIN truth t
               ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b) AS BIGINT)
           AS n_tp
)
SELECT n_true, n_pred, n_tp,
       round(CAST(n_tp AS DOUBLE) / n_pred, 6) AS precision_r,
       round(CAST(n_tp AS DOUBLE) / n_true, 6) AS recall_r,
       round(2.0 * n_tp / (n_pred + n_true), 6) AS f1_r
FROM counts
""",
    tags=("dedup", "eval"),
)
def a404_lsh_prf_eval(spark, sf_dir):
    """Precision / recall / F1 of the MinHash-LSH dedup pipeline as a
    PAIR CLASSIFIER against exact truth — the method-acceptance test a
    dedup rollout needs (q246 audits the sketch's Jaccard ERROR, q305
    its capture curve; this scores the end decision): truth = pairs
    with exact shingle Jaccard ≥ {_PRF_T}, prediction = q238's banded
    candidates; P/R/F1 are single divisions over exact integers.

    The truth side never materializes doc-level pairs: docs with an
    IDENTICAL shingle set form an equivalence class (exact dedup before
    the quadratic stage — the guide-§8 move of deciding on small rows),
    intersections are computed once per CLASS pair on the ≤classes-sized
    representative posting lists, and the pair counts expand back
    arithmetically (qualifying cross-class pair → ma·mb doc pairs;
    any class with ≥2 members and a non-empty set contributes C(m,2)
    Jaccard-1 pairs). A doc pair's (inter, sza, szb) depends only on
    the two shingle SETS, so truth membership is a class-pair fact;
    the counts are bit-identical to the former doc-level posting join,
    which generated Σ df² pair rows — 138M at the 10× fixture (each
    replica multiplies every df by 10, pairs by 100) vs 1.3M class-level
    rows. Predictions classify by class lookup instead of a full-outer
    join against the truth pair set. The banding params (4 bands × 2
    rows) come from a399's planning table — this query is its
    empirical receipt."""
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    d = table(spark, sf_dir, "documents")
    # shingle the corpus ONCE for both sides (§2.3): the tokenize +
    # 3-gram + distinct map stage is the query's dominant scan work,
    # and truth (sorted set) and prediction (exploded stream) both
    # derive from this checkpoint. explode_outer+filter keeps the sh
    # stream row-for-row what _minhash_components builds standalone
    # (sort_array only permutes within each doc's distinct set, and
    # every consumer aggregates it).
    base = (
        ensure_parallelism(d)
        .select(
            "doc_id", F.sort_array(word_shingles("text", 3)).alias("ss")
        )
        .localCheckpoint(eager=False)
    )
    sh = base.select(
        "doc_id", F.explode_outer("ss").alias("sh")
    ).filter(F.col("sh").isNotNull())
    _, sigs, cand = _minhash_components(spark, sf_dir, sh=sh)
    w_ss = Window.partitionBy("ss")
    # doc → (class id = min doc_id of its shingle-set class, class size,
    # set size); one shuffle on the sorted shingle array (exact key, no
    # hashing shortcut — md5'ing the set would risk collisions).
    cls = (
        base
        .select(
            "doc_id",
            F.min("doc_id").over(w_ss).alias("cid"),
            F.count("*").over(w_ss).alias("m"),
            F.size("ss").alias("sz"),
            "ss",
        )
        .localCheckpoint(eager=False)
    )
    reps = cls.filter(F.col("doc_id") == F.col("cid"))
    # class-level posting lists (members sorted ⇒ emitted ca < cb, the
    # cooccurrence_pairs slice pattern); the explicit repartition keys
    # the O(b²) fan-out across cores before AQE can coalesce the tiny
    # posting table to one partition.
    plists = (
        reps.select("cid", F.explode("ss").alias("sh"))
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("cid")).alias("members"))
        .filter(F.size("members") >= 2)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ipairs = (
        plists.select(F.posexplode("members").alias("pos", "ca"), "members")
        .select(
            "ca",
            F.explode(
                F.slice(
                    "members",
                    F.col("pos") + F.lit(2),
                    F.greatest(
                        F.size("members") - F.col("pos") - 1, F.lit(0)
                    ),
                )
            ).alias("cb"),
        )
        .groupBy("ca", "cb")
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    sa = reps.select(
        F.col("cid").alias("ca"),
        F.col("sz").alias("sza"),
        F.col("m").alias("ma"),
    )
    sb = reps.select(
        F.col("cid").alias("cb"),
        F.col("sz").alias("szb"),
        F.col("m").alias("mb"),
    )
    # qualifying cross-class pairs, with the doc-pair count they expand
    # to; referenced twice (n_true sum + prediction lookup) → checkpoint
    qc = (
        ipairs.join(F.broadcast(sa), "ca")
        .join(F.broadcast(sb), "cb")
        .filter(
            F.col("inter").cast("double")
            / (F.col("sza") + F.col("szb") - F.col("inter"))
            >= _PRF_T
        )
        .select(
            "ca", "cb", (F.col("ma") * F.col("mb")).cast("bigint").alias("cnt")
        )
        .localCheckpoint(eager=False)
    )
    intra = reps.filter((F.col("m") >= 2) & (F.col("sz") >= 1)).select(
        F.expr("CAST(m * (m - 1) div 2 AS BIGINT)").alias("cnt")
    )
    n_true_df = (
        qc.select("cnt")
        .unionAll(intra)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_true"))
    )
    pred = cand.select("doc_a", "doc_b").distinct()
    # classify every predicted pair by class lookup: same class with a
    # non-empty set ⇒ Jaccard 1 ⇒ true; else true iff its (ca,cb) class
    # pair qualified. qc has ca<cb strictly, so a same-class pair can
    # never collide with a qc row.
    pj = (
        pred.join(
            cls.select(
                F.col("doc_id").alias("doc_a"),
                F.col("cid").alias("ca0"),
                F.col("sz").alias("sza0"),
            ),
            "doc_a",
        )
        .join(
            cls.select(
                F.col("doc_id").alias("doc_b"), F.col("cid").alias("cb0")
            ),
            "doc_b",
        )
        .select(
            F.least("ca0", "cb0").alias("ca"),
            F.greatest("ca0", "cb0").alias("cb"),
            (
                (F.col("ca0") == F.col("cb0")) & (F.col("sza0") >= 1)
            ).alias("same_tp"),
        )
        .join(
            F.broadcast(qc.select("ca", "cb", F.lit(True).alias("qhit"))),
            ["ca", "cb"],
            "left",
        )
    )
    stats = pj.agg(
        F.count("*").cast("bigint").alias("n_pred"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("same_tp") | F.col("qhit").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_tp"),
    )
    base = stats.crossJoin(F.broadcast(n_true_df)).select(
        "n_true", "n_pred", "n_tp"
    )
    return base.select(
        "n_true",
        "n_pred",
        "n_tp",
        F.round(F.col("n_tp").cast("double") / F.col("n_pred"), 6).alias(
            "precision_r"
        ),
        F.round(F.col("n_tp").cast("double") / F.col("n_true"), 6).alias(
            "recall_r"
        ),
        F.round(
            2.0 * F.col("n_tp") / (F.col("n_pred") + F.col("n_true")), 6
        ).alias("f1_r"),
    )


@query(
    "a435_weighted_jaccard",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, tok
), tot AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total FROM tf GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS sum_min
  FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE a.doc_id < 20
  GROUP BY doc_a, doc_b
)
SELECT i.doc_a, i.doc_b, i.sum_min,
       round(CAST(i.sum_min AS DOUBLE)
             / (ta.total + tb.total - i.sum_min), 6) AS weighted_jaccard_r
FROM inter i
JOIN tot ta ON ta.doc_id = i.doc_a
JOIN tot tb ON tb.doc_id = i.doc_b
ORDER BY weighted_jaccard_r DESC, doc_a, doc_b
LIMIT 25
""",
    tags=("dedup", "similarity"),
)
def a435_weighted_jaccard(spark, sf_dir):
    """Weighted (multiset / min-max) Jaccard similarity —
    Σmin(tfₐ,tf_b)/Σmax(tfₐ,tf_b), the bag-of-words generalization the
    set-similarity battery (a394: Jaccard/Dice/overlap on SETS) and
    the shingle pipeline can't express: two documents repeating the
    same token 50× vs once are very different bags but identical
    sets, and near-dup detection on templated/spammy text needs the
    multiset view. The union mass needs NO union join —
    Σmax = totalₐ + total_b − Σmin, so one posting-list equi-join on
    the token (query panel doc_a < 20 bounds candidates exactly like
    q198 — this fixture's 31-token vocabulary makes every doc pair
    collide, the worst case) plus two per-doc totals gives the exact
    rational score from BIGINT term frequencies. Consistent-weighted-
    sampling sketches slot into the same contract at 100 TB."""
    d = table(spark, sf_dir, "documents")
    from ..functions.text import tokens
    from ..operators.core import ensure_parallelism

    tf = (
        ensure_parallelism(d)
        .select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .localCheckpoint(eager=False)
    )
    tot = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("total")
    )
    a = tf.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("tf").alias("tfa")
    )
    b = tf.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("tf").alias("tfb")
    )
    inter = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("tfa", "tfb")).cast("bigint").alias("sum_min"))
    )
    ta = tot.select(
        F.col("doc_id").alias("doc_a"), F.col("total").alias("total_a")
    )
    tb = tot.select(
        F.col("doc_id").alias("doc_b"), F.col("total").alias("total_b")
    )
    return (
        inter.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "sum_min",
            F.round(
                F.col("sum_min").cast("double")
                / (F.col("total_a") + F.col("total_b") - F.col("sum_min")),
                6,
            ).alias("weighted_jaccard_r"),
        )
        .orderBy(F.col("weighted_jaccard_r").desc(), "doc_a", "doc_b")
        .limit(25)
    )
