"""Similarity search queries over the ``embeddings`` table.

q37 is the exact brute-force oracle path (broadcast queries, corpus
scan, window top-k); q38 is the LSH-bucketed approximate path for scale;
q39 is the array-function battery (norms / dot products) used by both.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import md5_bits, money, money_sum
from ..functions.vector import cosine_similarity, dot, l2_norm, sql_double
from ..operators import ann_topk_bruteforce, ivf_ann, lsh_bucket_ann, lsh_neardup_pairs
from ..sources import table
from . import query
from ..operators.core import literal_frame

N_QUERIES = 10
TOP_K = 5


@query(
    "q37_ann_bruteforce",
    oracle=f"""
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6)
         AS cosine_r
FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
JOIN embeddings c ON c.vec_id != q.vec_id
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY q.vec_id
  ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
           c.vec_id
) <= {TOP_K}
ORDER BY query_id, cosine_r DESC, neighbor_id
""",
    tags=("similarity",),
)
def q37_ann_bruteforce(spark, sf_dir):
    """Exact cosine top-5 for the first 10 vectors: broadcast the query
    batch across the corpus scan (no corpus shuffle), window top-k."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    res = ann_topk_bruteforce(e, q, id_col="vec_id", vec_col="embedding", k=TOP_K)
    return res.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine_r"),
    ).orderBy("query_id", F.col("cosine_r").desc(), "neighbor_id")


@query("q38_ann_lsh", oracle=None, tags=("similarity", "rows_only"))
def q38_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH ANN: corpus bucketed once by sign pattern,
    queries probe their bucket via equi-join, exact rerank inside. The
    100 TB path — bucket-local scans instead of corpus-wide."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    res = lsh_bucket_ann(
        e,
        q,
        id_col="vec_id",
        vec_col="embedding",
        k=TOP_K,
        num_planes=6,
        # fixture embedding dim — skips the per-call first() probe job;
        # the operator still probes when a caller doesn't know it
        dim=64,
    )
    return res.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r")
    ).orderBy("query_id", F.col("cosine_r").desc(), "neighbor_id")


@query(
    "q39_vector_stats",
    oracle="""
WITH v AS (
  SELECT label,
         CAST(ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * 1000000.0, 0) AS BIGINT) AS norm_fp,
         len(embedding) AS dim
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(MIN(dim) AS INT) AS min_dim,
       CAST(MAX(dim) AS INT) AS max_dim,
       CAST(SUM(norm_fp) / 1000000.0 / COUNT(*) AS DOUBLE) AS avg_norm
FROM v
GROUP BY label
ORDER BY label
""",
    tags=("similarity",),
)
def q39_vector_stats(spark, sf_dir):
    """Array-function battery: per-label vector counts, dimension checks,
    average L2 norm (fixed-point-summed for cross-engine exactness)."""
    e = table(spark, sf_dir, "embeddings")
    norm_fp = money(l2_norm("embedding"), 6)
    v = e.select("label", norm_fp.alias("norm_fp"), F.size("embedding").alias("dim"))
    return (
        v.groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("dim").alias("min_dim"),
            F.max("dim").alias("max_dim"),
            (F.sum("norm_fp") / 1000000.0 / F.count("*")).alias("avg_norm"),
        )
        .orderBy("label")
    )


@query("q56_ann_ivf", oracle=None, tags=("similarity", "rows_only"))
def q56_ann_ivf(spark, sf_dir):
    """IVF-Flat ANN: hash-sampled codebook of 16 centroids, corpus
    assigned to cells map-side, queries probe their 4 nearest cells and
    exact-rerank inside — the FAISS-style scale path next to q38's LSH."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES)
    res = ivf_ann(
        e, q, id_col="vec_id", vec_col="embedding", k=TOP_K, n_cells=16, n_probe=4
    )
    return res.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine_r")
    ).orderBy("query_id", F.col("cosine_r").desc(), "neighbor_id")


# re-export for bench / tests
__all__ = ["q37_ann_bruteforce", "q38_ann_lsh", "q39_vector_stats", "dot", "cosine_similarity"]


@query(
    "q53_embedding_neardup",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
         AS cosine_r
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
ORDER BY cosine_r DESC, vec_a, vec_b
LIMIT 20
""",
    tags=("similarity", "dedup"),
)
def q53_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: the 20 most-similar vector pairs.

    Exact all-pairs here (the oracle path — broadcast one normalized
    side, dot-product join, top-k). The 100 TB path is the identical
    rerank applied to lsh_bucket_ann candidates instead of all pairs.
    """
    e = table(spark, sf_dir, "embeddings")
    from ..functions.vector import l2_normalize
    from ..operators.core import ensure_parallelism

    # Pair scoring stays the HOF fold: an unrolled 64-term element_at
    # chain was A/B-measured 4× SLOWER here (1.8s → 7.6s) — this
    # projection sits above a BroadcastNestedLoopJoin, outside
    # whole-stage codegen, where one fold loop beats 128 interpreted
    # element_at calls. (The a381/a459 unroll wins are literal-
    # coefficient chains inside codegen — a different class.)
    a = ensure_parallelism(e).select(
        F.col("vec_id").alias("vec_a"), l2_normalize("embedding").alias("__va")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), l2_normalize("embedding").alias("__vb")
    )
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            F.round(dot("__va", "__vb"), 6).alias("cosine_r"),
        )
        .orderBy(F.col("cosine_r").desc(), "vec_a", "vec_b")
        .limit(20)
    )


@query(
    "q83_neardup_lsh_rerank",
    oracle="""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
tw AS (
  SELECT vec_id, emb,
         vec_id + 10000000 AS tid,
         list_prepend(emb[1] + delta, emb[2:]) AS temb
  FROM (
    SELECT vec_id, emb,
           CAST(0.02 AS DOUBLE)
             + CAST((('0x' || substr(md5('tw|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
                     % 60001) AS DOUBLE) / 1e6 AS delta
    FROM base
  )
  WHERE vec_id % 2 = 0
)
SELECT vec_a, vec_b, cosine_r FROM (
  SELECT vec_id AS vec_a, tid AS vec_b,
         round(list_cosine_similarity(emb, temb), 6) AS cosine_r
  FROM tw
  UNION ALL
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_cosine_similarity(a.emb, b.emb), 6) AS cosine_r
  FROM base a JOIN base b ON a.emb = b.emb AND a.vec_id < b.vec_id
)
ORDER BY cosine_r DESC, vec_a, vec_b
LIMIT 20
""",
    tags=("similarity", "dedup"),
)
def q83_neardup_lsh_rerank(spark, sf_dir):
    """Embedding near-dup, 100 TB path: banded LSH candidate generation
    (posting-list pair expansion per band/bucket) + exact cosine rerank
    of candidates only.

    The corpus is augmented with PLANTED near-duplicates — every even
    vec_id gets a twin (vec_id+10⁷) whose first coordinate is shifted by
    an md5-derived delta ∈ [0.02, 0.08), giving pair cosines ≥ ~0.996
    against a natural-pair ceiling of ~0.6 on this corpus family. The
    derivation is pure integer-hash + IEEE double arithmetic, so the
    oracle re-derives the identical twins in SQL and scores exactly the
    planted pairs plus any EXACT-duplicate vectors (a hash equi-join on
    the vector value — the replica-amplified 10× fixture has 45·2000 of
    those at cosine 1.0, raw fixtures none) — a LINEAR ground truth (no
    all-pairs scan; q53 keeps the exact-all-pairs reference). Identical
    vectors share every sign pattern, so LSH recall on the exact-dup
    class is structurally 1.

    Scale shape: ``band_planes=None`` engages the log2(n) plane-scaling
    law (expected random bucket ≈ 8 rows at ANY corpus size, candidate
    volume linear in n). At the actual ≥0.996 planted-cosine floor the
    per-pair miss at 1e8 rows (24 planes) is ≈ 1.5e-5 — p = 1-θ/π ≈
    0.9715, p²⁴ ≈ 0.50, (1-0.50)¹⁶ ≈ 1.5e-5, see lsh_neardup_pairs —
    negligible against thousands of planted pairs, and the exact-dup
    pairs at cosine 1.0 that dominate the top-20 are missed with
    probability exactly 0 (identical sign patterns). max_bucket
    is the pathological-skew backstop only: bucket loads are Poisson(8),
    so a 1024 cap cannot touch a planted pair on any non-adversarial
    corpus (P[bucket>1024] < 1e-300) — which is why the oracle does not
    need to mirror it (contrast q309, whose cap binds by design)."""
    e = table(spark, sf_dir, "embeddings")
    ed = F.col("embedding").cast("array<double>")
    # Corpus cardinality (for the log2(n) plane law) and dim in ONE
    # column-pruned aggregate job, passed into the operator — the old
    # base.unionAll(twins) shape paid a count() and a first() that each
    # re-executed the two-branch union lineage.
    stats = e.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("vec_id") % 2 == 0, 1)).alias("n_even"),
        F.first(F.size("embedding")).alias("d"),
    ).first()
    h = md5_bits(F.concat(F.lit("tw|"), F.col("vec_id").cast("string")), 15)
    delta = F.lit(0.02) + (h % F.lit(60001)).cast("double") / F.lit(1e6)
    # One scan emits original + planted twin together (explode of a 1-
    # or 2-element struct array) instead of the former base.unionAll(
    # twins), which scanned embeddings twice per evaluation. Same row
    # multiset, same twin arithmetic, order-irrelevant downstream.
    orig = F.struct(F.col("vec_id").alias("vec_id"), F.col("emb").alias("emb"))
    twin = F.struct(
        (F.col("vec_id") + F.lit(10000000)).alias("vec_id"),
        F.concat(
            F.array(F.element_at("emb", 1) + delta),
            F.slice("emb", 2, 63),
        ).alias("emb"),
    )
    corpus = (
        e.select("vec_id", ed.alias("emb"))
        .select(
            F.explode(
                F.when(F.col("vec_id") % 2 == 0, F.array(orig, twin)).otherwise(
                    F.array(orig)
                )
            ).alias("s")
        )
        .select(F.col("s.vec_id").alias("vec_id"), F.col("s.emb").alias("emb"))
    )
    res = lsh_neardup_pairs(
        corpus,
        id_col="vec_id",
        vec_col="emb",
        top_pairs=20,
        num_bands=16,
        band_planes=None,
        max_bucket=1024,
        n_rows=int(stats["n"]) + int(stats["n_even"]),
        dim=int(stats["d"]),
    )
    return res.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine_r")
    ).orderBy(F.col("cosine_r").desc(), "vec_a", "vec_b")


@query(
    "q106_gramian",
    oracle="""
WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       CAST(SUM(CAST(ROUND(e[i] * e[j] * 1000000.0, 0) AS BIGINT))
            / 1000000.0 AS DOUBLE)
         AS sum_xy
FROM v, generate_series(1, 64) s(i), generate_series(1, 64) t(j)
WHERE j >= i
GROUP BY i, j
ORDER BY i, j
""",
    tags=("similarity", "linalg"),
)
def q106_gramian(spark, sf_dir):
    """Distributed gramian X^T X over the embedding corpus (the input to
    PCA/covariance/whitening). Per-partition numpy partial gramians via
    mapInPandas, then one reduce of d^2 longs per partition — an
    explode+groupBy formulation would shuffle d^2 rows per INPUT row.
    Per-row products round to integer units before summation, so the
    result is order-independent and hash-exact vs the oracle's
    generate_series formulation."""
    from ..operators import gramian_upper

    e = table(spark, sf_dir, "embeddings")
    g = gramian_upper(e, vec_col="embedding", scale=6)
    return (
        g.select(
            "i", "j", (F.col("cents") / F.lit(1000000.0)).alias("sum_xy")
        )
        .orderBy("i", "j")
    )


@query(
    "q107_centroid_outliers",
    oracle="""
WITH v AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
), ex AS (
  SELECT vec_id, label, CAST(i AS INT) AS i, e[i] AS x
  FROM v, generate_series(1, 64) s(i)
), cent AS (
  SELECT label, i,
         SUM(CAST(ROUND(x * 1000000.0, 0) AS BIGINT))
           / (1000000.0 * COUNT(*)) AS c
  FROM ex GROUP BY label, i
), dist AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(CAST(ROUND((e.x - c.c) * (e.x - c.c) * 1000000.0, 0)
                       AS BIGINT)) / 1000000.0 AS DOUBLE) AS dist2
  FROM ex e JOIN cent c ON e.label = c.label AND e.i = c.i
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, round(dist2, 6) AS dist2_r
FROM dist
ORDER BY dist2 DESC, vec_id
LIMIT 20
""",
    tags=("similarity", "curation"),
)
def q107_centroid_outliers(spark, sf_dir):
    """Embedding outlier detection: squared L2 distance of each vector
    to its label centroid, top-20. Centroids are exact fixed-point means
    (integer-unit sums divided once — identical doubles in both
    engines); the 640-row centroid table broadcasts back onto the
    exploded corpus, and per-vector distances aggregate map-side. The
    curation use: drop-or-review items far from their cluster, a
    standard embedding-space quality gate."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    ).select(
        "vec_id", "label", (F.col("i0") + 1).alias("i"), "x"
    )
    cent = ex.groupBy("label", "i").agg(
        (F.sum(money("x", 6)) / (F.lit(1000000.0) * F.count("*"))).alias("c")
    )
    dist = (
        ex.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            money_sum(
                (F.col("x") - F.col("c")) * (F.col("x") - F.col("c")), "dist2", 6
            )
        )
    )
    return (
        dist.select("vec_id", "label", F.round("dist2", 6).alias("dist2_r"))
        .orderBy(F.col("dist2").desc(), "vec_id")
        .limit(20)
    )


@query(
    "q142_arrow_vector_norms",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       CAST(CAST(ROUND(sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))
                       * 1000000.0, 0) AS BIGINT) / 1000000.0 AS DOUBLE)
         AS l2_norm
FROM embeddings
ORDER BY vec_id
LIMIT 200
""",
    tags=("similarity", "arrow"),
)
def q142_arrow_vector_norms(spark, sf_dir):
    """Arrow-native vector kernel: the same per-vector norms q39
    computes with JVM higher-order functions, run through the
    ``mapInArrow`` zero-copy path instead — each RecordBatch's list
    column is one flat numpy view, the segmented square-sum is a single
    vectorized pass, and no pandas objects are ever built. Registered
    as the template for custom numeric kernels (quantizers, distance
    sweeps) that outgrow SQL expressions; fixed-point output keeps the
    cross-engine comparison exact."""
    from ..operators.similarity import arrow_l2_norms

    e = table(spark, sf_dir, "embeddings")
    out = arrow_l2_norms(e, "vec_id", "embedding")
    return (
        out.select(
            F.col("id").alias("vec_id"),
            "dim",
            (F.col("norm_fp") / 1000000.0).alias("l2_norm"),
        )
        .orderBy("vec_id")
        .limit(200)
    )


@query(
    "q144_semantic_dedup",
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
), assign AS (
  SELECT vec_id, cid AS cell, v FROM (
    SELECT vec_id, cid, v,
           row_number() OVER (PARTITION BY vec_id ORDER BY d_fp, cid) AS rk
    FROM dist
  ) WHERE rk = 1
), dup_pairs AS (
  SELECT a.vec_id AS keep_id, b.vec_id AS vec_id
  FROM assign a JOIN assign b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.60
)
SELECT s.vec_id, s.cell,
       CAST(COALESCE(MIN(p.keep_id), s.vec_id) AS BIGINT) AS canonical_id,
       CAST(MIN(p.keep_id) IS NOT NULL AS INT) AS is_dup
FROM assign s LEFT JOIN dup_pairs p ON p.vec_id = s.vec_id
GROUP BY s.vec_id, s.cell
ORDER BY s.vec_id
""",
    tags=("similarity", "dedup"),
)
def q144_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: cluster embeddings with a k=8
    broadcast codebook (seeded from the first 8 vectors, same quantizer
    as q95), then compute cosine pairs ONLY within each cell and mark
    every vector whose similarity to a lower-id cell-mate is >= 0.60 as
    a duplicate of the smallest such id. The cluster-then-pairs shape is
    the published SemDeDup recipe: the O(n^2) pair space collapses to
    sum of per-cell squares, each cell's pair join is an equi-join on
    cell id (one shuffle), and the codebook broadcast means the corpus
    is never shuffled for assignment. Distances are fixed-point BIGINT
    (order-independent), cosines rounded to 1e-6 in both engines."""
    from ..operators.core import ensure_parallelism

    # single-file fixture scans plan one task; fan the vector math out
    # across cores (no-op on a many-split lake source)
    e = ensure_parallelism(table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # Codebook assignment is MAP-SIDE: the k=8 centroids (bounded by
    # construction — vec_id < 8) are collected once and embedded as
    # array literals (the IVF-codebook pattern), so the argmin is a
    # least() over 8 per-row distance folds with NO crossJoin fan-out
    # and NO groupBy(vec_id) shuffle carrying the vectors back
    # together. Arithmetic is identical per (row, centroid) — the
    # literal array holds the same doubles the broadcast column did,
    # and least(struct(d_fp, cid)) is the same lexicographic min the
    # row-wise F.min(struct) computed.
    # the codebook collect reads the RAW table (not the repartitioned
    # corpus frame): vec_id < 8 pushes into the parquet scan, so the
    # extra action is a row-group point-read instead of a full
    # scan + 32-way repartition (same float→double cast, same values)
    cent_rows = sorted(
        (int(r["cid"]), list(r["cv"]))
        for r in table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "cv"
            ),
        )
        .collect()
    )

    # one F.expr SQL string per centroid (the a381/q240
    # plan-construction lesson: 8 × 64-element F.lit arrays + py4j
    # lambda trees cost ~0.6 s of BUILD per call; the string parses to
    # the identical aggregate/zip_with tree — same fold order, same
    # doubles via the round-trip repr cast, bit-identical assignment)
    def d_fp_to(cv: list):
        arr = ", ".join(sql_double(x) for x in cv)
        return F.expr(
            f"aggregate(zip_with(`v`, array({arr}), (x, c) ->"
            " CAST(ROUND((x - c) * (x - c)"
            " * CAST(1000000000000.0 AS DOUBLE), 0) AS BIGINT)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )

    m = F.least(
        *[
            F.struct(
                d_fp_to(cv).alias("d_fp"),
                F.lit(cid).cast("bigint").alias("cid"),
            )
            for cid, cv in cent_rows
        ]
    )
    # single downstream reference (the per-cell cogroup) — no
    # checkpoint needed now that nothing re-plans the assignment
    assign = e.select("vec_id", m.getField("cid").alias("cell"), "v")
    # In-cell dedup as the published per-cluster matrix product: one
    # shuffle groups each cell's vectors into an Arrow batch, numpy
    # computes the cell's cosine gram in float64, and each vector maps
    # to the smallest lower-id cell-mate above threshold. Replaces the
    # pair equi-join + interpreted HOF cosine (Catalyst lambdas are
    # interpreted): per-cell work is dense BLAS, cells bound the batch
    # (SemDeDup scales k with n precisely so cells stay machine-sized).
    def dedup_cell(pdf):
        import numpy as np
        import pandas as pd

        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        X = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0.0] = 1.0
        cos = np.round((X @ X.T) / np.outer(norms, norms), 6)
        hit = cos >= 0.60
        canon = ids.copy()
        dup = np.zeros(len(ids), dtype=np.int32)
        for i in range(1, len(ids)):
            js = np.nonzero(hit[i, :i])[0]
            if len(js):
                canon[i] = ids[js[0]]  # ids sorted → smallest match
                dup[i] = 1
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": pdf["cell"].iloc[0],
                "canonical_id": canon,
                "is_dup": dup,
            }
        )

    return (
        assign.groupBy("cell")
        .applyInPandas(
            dedup_cell,
            "vec_id long, cell long, canonical_id long, is_dup int",
        )
        .select(
            "vec_id",
            "cell",
            F.col("canonical_id").cast("bigint").alias("canonical_id"),
            F.col("is_dup").cast("int").alias("is_dup"),
        )
        .orderBy("vec_id")
    )


def _hyperplanes(n_planes: int = 16, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — generated once
    in Python and embedded as identical double literals in BOTH the
    Spark plan and the oracle SQL, so the two engines agree bit-for-bit
    on every component (repr round-trips doubles exactly)."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"pl{p}|{d}".encode()).hexdigest()
            row.append(int(h[:8], 16) / 4294967296.0 * 2.0 - 1.0)
        planes.append(row)
    return planes


_LSH_PLANES = _hyperplanes()


@query(
    "q240_lsh_hyperplane_index",
    oracle="WITH v AS (\n"
    "  SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings\n"
    "), dots AS (\n"
    "  SELECT vec_id, label,\n"
    + ",\n".join(
        "         list_reduce(list_transform(generate_series(1, 64),"
        f" i -> e[i] * [{', '.join(repr(x) for x in _LSH_PLANES[p])}][i]),"
        f" (acc, x) -> acc + x) AS d{p}"
        for p in range(16)
    )
    + "\n  FROM v\n), keys AS (\n"
    "  SELECT vec_id, label,\n"
    "         CAST("
    + " + ".join(
        f"(CASE WHEN d{p} > 0 THEN (1 << {p % 8}) ELSE 0 END)"
        for p in range(8)
    )
    + " AS BIGINT) AS k0,\n"
    "         CAST("
    + " + ".join(
        f"(CASE WHEN d{p} > 0 THEN (1 << {p % 8}) ELSE 0 END)"
        for p in range(8, 16)
    )
    + " AS BIGINT) AS k1\n"
    "  FROM dots\n"
    "), bands AS (\n"
    "  SELECT vec_id, label, 0 AS band, k0 AS key FROM keys\n"
    "  UNION ALL\n"
    "  SELECT vec_id, label, 1 AS band, k1 AS key FROM keys\n"
    ")\n"
    "SELECT CAST(band AS INT) AS band, key,\n"
    "       CAST(COUNT(*) AS BIGINT) AS n_vecs,\n"
    "       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels,\n"
    "       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_pairs\n"
    "FROM bands GROUP BY band, key\n"
    "ORDER BY band, key",
    tags=("similarity", "lsh"),
)
def q240_lsh_hyperplane_index(spark, sf_dir):
    """Random-hyperplane LSH index build with a full exact-value oracle
    — the q38 family's signature machinery proven value-for-value, the
    way q238/q239 prove MinHash and SimHash. 16 hyperplanes are
    md5-derived double literals embedded identically in both engines;
    each vector's 16 sign bits come from sequential left-to-right dot
    folds (identical operation order => bit-identical doubles => the
    sign of a near-zero dot cannot diverge), packed into two 8-bit band
    keys in codegen. The output is the index itself: per (band, bucket)
    occupancy, label diversity, and the candidate-pair budget C(n,2)
    the bucket would feed a rerank — the quantity a capacity planner
    actually audits before running ANN at 100 TB. One narrow projection
    over the corpus, one map-side-combined groupBy; the planes ride
    along as constants, never a join."""
    emb = table(spark, sf_dir, "embeddings")

    # one F.expr SQL string per plane dot (the a381 plan-construction
    # lesson, same rewrite as _hyperplane_keys): parses to the
    # identical aggregate/zip_with tree, so the fold order and the
    # sign bits are unchanged bit-for-bit
    def dot_plane(p: int):
        plane = ", ".join(sql_double(x) for x in _LSH_PLANES[p])
        return F.expr(
            "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),"
            f" array({plane}), (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    dots = emb.select(
        "vec_id",
        "label",
        *[dot_plane(p).alias(f"d{p}") for p in range(16)],
    )
    k0 = sum(
        F.when(F.col(f"d{p}") > 0, F.lit(1 << (p % 8))).otherwise(0)
        for p in range(8)
    ).cast("bigint")
    k1 = sum(
        F.when(F.col(f"d{p}") > 0, F.lit(1 << (p % 8))).otherwise(0)
        for p in range(8, 16)
    ).cast("bigint")
    # referenced by both halves of the band union — checkpoint so the
    # 16 dot folds compute once.
    keys = dots.select(
        "vec_id", "label", k0.alias("k0"), k1.alias("k1")
    ).localCheckpoint(eager=False)
    bands = keys.select(
        "vec_id", "label", F.lit(0).alias("band"), F.col("k0").alias("key")
    ).unionAll(
        keys.select(
            "vec_id", "label", F.lit(1).alias("band"), F.col("k1").alias("key")
        )
    )
    n = F.count("*").cast("bigint")
    return (
        bands.groupBy("band", "key")
        .agg(
            n.alias("n_vecs"),
            F.count_distinct("label").cast("bigint").alias("n_labels"),
            (n * (n - 1) / 2).cast("bigint").alias("n_pairs"),
        )
        .orderBy("band", "key")
    )


def _pi_sql_iter(k: int) -> str:
    prev = f"v{k - 1}"
    return (
        f"w{k} AS (\n"
        f"  SELECT g.i AS i, CAST(SUM(g.m * v.v) AS BIGINT) AS w\n"
        f"  FROM g JOIN {prev} v ON v.i = g.j GROUP BY g.i\n"
        f"), m{k} AS (\n"
        f"  SELECT CAST(MAX(ABS(w)) AS BIGINT) AS mx FROM w{k}\n"
        f"), v{k} AS (\n"
        f"  SELECT i, CAST(ROUND(CAST(w AS DOUBLE) * 1000000.0 / mx, 0)"
        f" AS BIGINT) AS v\n"
        f"  FROM w{k}, m{k}\n"
        f")"
    )


@query(
    "q249_power_iteration",
    oracle="WITH emb AS (\n"
    "  SELECT embedding::DOUBLE[] AS e FROM embeddings\n"
    "), g AS (\n"
    "  SELECT i, j,\n"
    "         CAST(SUM(CAST(ROUND(e[i] * e[j] * 1000000.0, 0) AS BIGINT))\n"
    "              AS BIGINT) AS m\n"
    "  FROM emb, generate_series(1, 64) s(i), generate_series(1, 64) t(j)\n"
    "  GROUP BY i, j\n"
    "), v0 AS (\n"
    "  SELECT i, CAST(1000000 AS BIGINT) AS v FROM generate_series(1, 64) s(i)\n"
    "), "
    + ",\n".join(_pi_sql_iter(k) for k in range(1, 6))
    + "\nSELECT v5.i AS dim, v5.v AS v_micro,\n"
    "       round(CAST(m5.mx AS DOUBLE) / 1000000000000.0, 6) AS lambda_r\n"
    "FROM v5, m5 ORDER BY dim",
    tags=("similarity", "linalg"),
)
def q249_power_iteration(spark, sf_dir):
    """Distributed PCA top component: five power iterations over the
    corpus gramian, engine-exact. The only corpus-sized work is q106's
    Arrow-batched partial-gramian pass (per-partition numpy outer
    products, one d²-row reduce — 100 TB of vectors becomes 4096 longs
    on the wire); every iteration then runs on the d×d integer matrix.
    Floats never accumulate: the gramian is exact micro-unit BIGINTs,
    each matrix·vector product is an exact integer sum, and the
    renormalization divides by the max-|component| (order-independent
    and exact, unlike an L2 norm whose squared sum would both overflow
    and float-drift) with ONE double division per component, rounded
    back to micro — so both engines walk the identical integer
    trajectory and the eigenvector hash-matches to the last bit.
    lambda_r is the dominant-eigenvalue estimate from the final
    pre-normalization scale. The all-ones start vector makes the
    converged sign deterministic. The d×d integer gramian (2080 upper
    cells — bounded by dim², the IVF-centroid collect pattern) comes
    to the driver once and the five iterations run as exact Python
    integer arithmetic (the one double op per component,
    round((double)w·1e6/mx), replicates Spark's HALF_UP rounding via
    functions.exact) — replacing 5×(join+agg+max+checkpoint) Spark
    jobs on 64-row frames with zero distributed work after the single
    corpus pass."""
    from ..functions.exact import round0_half_up
    from ..operators.linalg import gramian_upper

    emb = table(spark, sf_dir, "embeddings")
    upper = gramian_upper(emb, "embedding", scale=6).collect()
    dim = 64
    m = [[0] * dim for _ in range(dim)]
    for r in upper:
        m[r["i"] - 1][r["j"] - 1] = r["cents"]
        m[r["j"] - 1][r["i"] - 1] = r["cents"]
    v = [1000000] * dim
    mx = None
    for _ in range(5):
        w = [
            sum(m[i][j] * v[j] for j in range(dim)) for i in range(dim)
        ]
        mx = max(abs(x) for x in w)
        # (double)w * 1e6 / (double)mx, rounded HALF_UP — bit-identical
        # to the former F.round(col(w).cast(double) * 1e6 / mx, 0)
        v = [round0_half_up(float(x) * 1000000.0 / float(mx)) for x in w]
    out = literal_frame(
        spark,
        [(i + 1, v[i], mx) for i in range(dim)],
        "dim int, v_micro bigint, mx bigint",
    )
    return out.select(
        "dim",
        "v_micro",
        F.round(
            F.col("mx").cast("double") / 1000000000000.0, 6
        ).alias("lambda_r"),
    ).orderBy("dim")


def _hyperplane_keys(emb):
    """(vec_id, k0, k1) band keys from the shared md5-literal planes —
    the Spark half of q240's signature machinery, reused by q266.

    Each plane dot is ONE F.expr SQL string (16 py4j calls total)
    instead of a py4j Column chain per literal (16 planes × 64 F.lit +
    zip_with/aggregate lambdas ≈ 2000 round-trips — q266's wall was
    8-10 s of plan CONSTRUCTION against ~1 s of execution, the a381
    class). The SQL text parses to the identical aggregate/zip_with
    expression tree, so the IEEE fold order — and the band bits — are
    unchanged bit-for-bit."""

    def dot_plane(p: int):
        plane = ", ".join(sql_double(x) for x in _LSH_PLANES[p])
        return F.expr(
            "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),"
            f" array({plane}), (x, y) -> x * y),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )

    dots = emb.select(
        "vec_id", *[dot_plane(p).alias(f"d{p}") for p in range(16)]
    )
    k0 = sum(
        F.when(F.col(f"d{p}") > 0, F.lit(1 << (p % 8))).otherwise(0)
        for p in range(8)
    ).cast("bigint")
    k1 = sum(
        F.when(F.col(f"d{p}") > 0, F.lit(1 << (p % 8))).otherwise(0)
        for p in range(8, 16)
    ).cast("bigint")
    return dots.select("vec_id", k0.alias("k0"), k1.alias("k1"))


_RECALL_K = 10
_RECALL_NQ = 20


def _q266_dots_sql() -> str:
    return ",\n".join(
        "         list_reduce(list_transform(generate_series(1, 64),"
        f" i -> e[i] * [{', '.join(repr(x) for x in _LSH_PLANES[p])}][i]),"
        f" (acc, x) -> acc + x) AS d{p}"
        for p in range(16)
    )


@query(
    "q266_lsh_recall_audit",
    oracle="WITH v AS (\n"
    "  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings\n"
    "), dots AS (\n"
    "  SELECT vec_id,\n" + _q266_dots_sql() + "\n  FROM v\n"
    "), keys AS (\n"
    "  SELECT vec_id,\n"
    "         CAST("
    + " + ".join(
        f"(CASE WHEN d{p} > 0 THEN (1 << {p % 8}) ELSE 0 END)"
        for p in range(8)
    )
    + " AS BIGINT) AS k0,\n"
    "         CAST("
    + " + ".join(
        f"(CASE WHEN d{p} > 0 THEN (1 << {p % 8}) ELSE 0 END)"
        for p in range(8, 16)
    )
    + " AS BIGINT) AS k1\n"
    "  FROM dots\n"
    "), cand AS (\n"
    f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
    f"  FROM keys q JOIN keys c ON c.k0 = q.k0 AND c.vec_id != q.vec_id\n"
    f"  WHERE q.vec_id < {_RECALL_NQ}\n"
    "  UNION\n"
    f"  SELECT q.vec_id, c.vec_id\n"
    f"  FROM keys q JOIN keys c ON c.k1 = q.k1 AND c.vec_id != q.vec_id\n"
    f"  WHERE q.vec_id < {_RECALL_NQ}\n"
    "), exact AS (\n"
    f"  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id\n"
    f"  FROM (SELECT * FROM embeddings WHERE vec_id < {_RECALL_NQ}) q\n"
    "  JOIN embeddings c ON c.vec_id != q.vec_id\n"
    "  QUALIFY ROW_NUMBER() OVER (\n"
    "    PARTITION BY q.vec_id\n"
    "    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],"
    " c.embedding::DOUBLE[]) DESC, c.vec_id\n"
    f"  ) <= {_RECALL_K}\n"
    "), nc AS (\n"
    "  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates\n"
    "  FROM cand GROUP BY query_id\n"
    ")\n"
    "SELECT e.query_id,\n"
    "       COALESCE(nc.n_candidates, 0) AS n_candidates,\n"
    "       CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)\n"
    "            AS BIGINT) AS n_hit,\n"
    "       round(CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL\n"
    "                      THEN 1 ELSE 0 END) AS DOUBLE)"
    f" / {_RECALL_K}.0, 6) AS recall_r\n"
    "FROM exact e\n"
    "LEFT JOIN cand c ON c.query_id = e.query_id\n"
    "                AND c.neighbor_id = e.neighbor_id\n"
    "LEFT JOIN nc ON nc.query_id = e.query_id\n"
    "GROUP BY e.query_id, nc.n_candidates\n"
    "ORDER BY e.query_id",
    tags=("similarity", "lsh", "eval"),
)
def q266_lsh_recall_audit(spark, sf_dir):
    """ANN candidate-generation recall audit, fully oracle-checked: for
    each query vector, the exact cosine top-10 (the q37
    brute-force path) intersected with the hyperplane-LSH candidate set
    (same md5-literal planes and band keys as q240 — a neighbor is a
    candidate if it shares EITHER 8-bit band), reporting candidate-set
    size and recall@k per query. This is the number that bounds ANY
    rerank: if candidate generation misses a true neighbor, no amount
    of downstream exactness recovers it — so a capacity planner tunes
    bands/planes against THIS curve, trading n_candidates (compute)
    for recall (quality). q38 stays rows-only production ANN; this
    audit is its measurable twin. Both sides stay bucket-joined —
    never all-pairs except the deliberately-bounded 20-query
    exact reference."""
    emb = table(spark, sf_dir, "embeddings")
    keys = _hyperplane_keys(emb).localCheckpoint(eager=False)
    qk = keys.filter(F.col("vec_id") < _RECALL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("k0").alias("qk0"),
        F.col("k1").alias("qk1"),
    )
    c0 = qk.join(
        keys, F.col("k0") == F.col("qk0"), "inner"
    ).filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    c1 = qk.join(
        keys, F.col("k1") == F.col("qk1"), "inner"
    ).filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    cand = c0.unionAll(c1).distinct().localCheckpoint(eager=False)
    q = emb.filter(F.col("vec_id") < _RECALL_NQ)
    exact = ann_topk_bruteforce(
        emb, q, id_col="vec_id", vec_col="embedding", k=_RECALL_K
    ).select("query_id", "neighbor_id")
    nc = cand.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_candidates")
    )
    hit = cand.withColumn("hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
        )
        .join(nc, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / float(_RECALL_K), 6
            ).alias("recall_r"),
        )
        .orderBy("query_id")
    )


@query(
    "q280_embedding_drift",
    oracle="""
WITH tagged AS (
  SELECT label, vec_id, embedding::DOUBLE[] AS e,
         CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS half
  FROM embeddings
), comp AS (
  SELECT label, half, i.i AS dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(e[i.i] * 1000000.0, 0) AS BIGINT))
              AS BIGINT) AS s_micro
  FROM tagged, generate_series(1, 64) i(i)
  GROUP BY label, half, dim
), cent AS (
  SELECT label, half, dim,
         CAST(ROUND(CAST(s_micro AS DOUBLE) / n, 0) AS BIGINT) AS c_micro
  FROM comp
), paired AS (
  SELECT a.label, a.dim,
         a.c_micro AS ca, b.c_micro AS cb
  FROM cent a JOIN cent b
    ON b.label = a.label AND b.dim = a.dim AND a.half = 0 AND b.half = 1
), sums AS (
  SELECT label,
         CAST(SUM(ca * cb) AS BIGINT) AS dot_m2,
         CAST(SUM(ca * ca) AS BIGINT) AS na_m2,
         CAST(SUM(cb * cb) AS BIGINT) AS nb_m2,
         CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS diff_m2
  FROM paired GROUP BY label
)
SELECT label,
       round(CAST(dot_m2 AS DOUBLE)
             / sqrt(CAST(na_m2 AS DOUBLE) * nb_m2), 6) AS centroid_cos_r,
       round(sqrt(CAST(diff_m2 AS DOUBLE)) / 1000000.0, 6) AS shift_l2_r
FROM sums ORDER BY label
""",
    tags=("similarity", "monitoring"),
)
def q280_embedding_drift(spark, sf_dir):
    """Embedding drift monitor: per label, the cosine between the
    centroid of even-id vectors and odd-id vectors (a deterministic
    stand-in for release-A vs release-B embeddings) plus the L2
    centroid shift — the check that catches a silently retrained or
    re-normalized encoder before it poisons ANN indexes built on the
    old geometry. Each centroid component is an exact micro-unit
    integer (fixed-point per element BEFORE the mean, then one rounded
    division), so the cross-engine arithmetic on centroids is pure
    BIGINT dot/norm sums with floats only in the last expression —
    no ordered folds needed because the micro-rounding already
    canonicalized the components. Corpus cost: one pass expanded by
    dim (posexplode), two group levels; centroid tables are
    (labels x dims) rows forever."""
    emb = table(spark, sf_dir, "embeddings")
    tagged = emb.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        ),
    )
    comp = tagged.groupBy(
        "label", "half", (F.col("dim0") + 1).alias("dim")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(money("x", 6))
        .cast("bigint")
        .alias("s_micro"),
    )
    cent = comp.select(
        "label",
        "half",
        "dim",
        F.round(F.col("s_micro").cast("double") / F.col("n"), 0)
        .cast("bigint")
        .alias("c_micro"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("c_micro").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("c_micro").alias("cb")
    )
    sums = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot_m2"),
            F.sum(F.col("ca") * F.col("ca")).cast("bigint").alias("na_m2"),
            F.sum(F.col("cb") * F.col("cb")).cast("bigint").alias("nb_m2"),
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("bigint")
            .alias("diff_m2"),
        )
    )
    return sums.select(
        "label",
        F.round(
            F.col("dot_m2").cast("double")
            / F.sqrt(F.col("na_m2").cast("double") * F.col("nb_m2")),
            6,
        ).alias("centroid_cos_r"),
        F.round(
            F.sqrt(F.col("diff_m2").cast("double")) / 1000000.0, 6
        ).alias("shift_l2_r"),
    ).orderBy("label")


@query(
    "q297_knn_classifier_eval",
    oracle="""
WITH panel AS (
  SELECT vec_id, label, embedding FROM embeddings
  ORDER BY md5('kp|' || CAST(vec_id AS VARCHAR)) LIMIT 256
), pairs AS (
  SELECT a.vec_id AS qid, a.label AS true_label, b.label AS nb_label,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_cosine_similarity(
                      a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                    DESC, b.vec_id) AS rk
  FROM panel a JOIN embeddings b ON b.vec_id != a.vec_id
), votes AS (
  SELECT qid, true_label, nb_label,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM pairs WHERE rk <= 5
  GROUP BY qid, true_label, nb_label
), winner AS (
  SELECT qid, true_label, nb_label AS predicted,
         row_number() OVER (PARTITION BY qid
                            ORDER BY v DESC, nb_label) AS wrk
  FROM votes
)
SELECT true_label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN predicted = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN predicted = true_label
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS accuracy_r
FROM winner WHERE wrk = 1
GROUP BY true_label
ORDER BY true_label
""",
    tags=("similarity", "eval", "mlops"),
)
def q297_knn_classifier_eval(spark, sf_dir):
    """Leave-one-out 5-NN label accuracy over a deterministic 256-vector
    evaluation panel — the zero-training classifier whose holdout
    accuracy IS a direct measurement of embedding quality (if neighbors
    don't share labels, the geometry is wrong and every downstream
    ANN/cluster use inherits it). The panel is the md5-ordered first 256
    vectors (both engines derive the identical set), scored against the
    FULL corpus, so both the Spark plan and the oracle are LINEAR in
    corpus size at any scale — the 100 TB shape is broadcast-the-panel /
    stream-the-corpus, never corpus×corpus (the r8 scale10 sweep's one
    documented exception was this query's old all-pairs oracle).
    Neighbor ranking uses 6-dp ROUNDED cosine with id tie-break (the q83
    contract — raw-float ordering could flip a boundary neighbor between
    engines), majority vote breaks ties toward the smaller label
    deterministically. Complements q296: that evaluates a parametric
    model, this evaluates the representation itself."""
    from pyspark.sql import Window

    from ..functions.vector import l2_normalize
    from ..operators.core import ensure_parallelism

    e = table(spark, sf_dir, "embeddings")
    a = (
        e.orderBy(
            F.md5(F.concat(F.lit("kp|"), F.col("vec_id").cast("string")))
        )
        .limit(256)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("true_label"),
            l2_normalize("embedding").alias("__va"),
        )
    )
    b = ensure_parallelism(e).select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nb_label"),
        l2_normalize("embedding").alias("__vb"),
    )
    pairs = (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "true_label",
            "nb_label",
            "nid",
            F.round(dot("__va", "__vb"), 6).alias("cos_r"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cos_r").desc(), "nid")
    votes = (
        pairs.select("qid", "true_label", "nb_label", F.row_number().over(wk).alias("rk"))
        .filter(F.col("rk") <= 5)
        .groupBy("qid", "true_label", "nb_label")
        .agg(F.count("*").cast("bigint").alias("v"))
    )
    ww = Window.partitionBy("qid").orderBy(F.col("v").desc(), "nb_label")
    winner = votes.select(
        "qid",
        "true_label",
        F.col("nb_label").alias("predicted"),
        F.row_number().over(ww).alias("wrk"),
    ).filter(F.col("wrk") == 1)
    return (
        winner.groupBy("true_label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(
                (F.col("predicted") == F.col("true_label")).cast("int")
            )
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    (F.col("predicted") == F.col("true_label")).cast("int")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("accuracy_r"),
        )
        .orderBy("true_label")
    )


@query(
    "q340_first_relevant_rank",
    oracle="""
WITH pairs AS (
  SELECT a.vec_id AS qid, a.label AS qlabel, b.label AS nlabel,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round(list_cosine_similarity(
                      a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                    DESC, b.vec_id) AS rk
  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
  WHERE a.vec_id < 50
), firsts AS (
  SELECT qid, qlabel, MIN(rk) AS first_rank
  FROM pairs WHERE nlabel = qlabel
  GROUP BY qid, qlabel
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       round(CAST(SUM(CAST(ROUND(1000000.0 / first_rank, 0) AS BIGINT))
                  AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mrr_r,
       round(quantile_cont(first_rank, 0.5), 6) AS median_rank_r,
       CAST(SUM(CASE WHEN first_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_top1
FROM firsts
""",
    tags=("similarity", "eval", "ranking"),
)
def q340_first_relevant_rank(spark, sf_dir):
    """Mean reciprocal rank of the first same-label neighbor — the IR
    evaluation (MRR, median first-relevant rank, top-1 hit count) for
    the embedding retrieval stack, with label agreement as relevance:
    where q297 grades the MAJORITY of the neighborhood, MRR grades
    how FAST the first relevant result arrives — the metric that
    matches a user who stops at the first good hit. Neighbor order
    uses the 6-dp rounded-cosine contract with id tie-break;
    reciprocal ranks are micro-fixed per query before the mean (exact
    rationals of integer ranks), so MRR is engine-exact. 50 query
    vectors against the exact broadcast reference; the q266 banded
    candidates slot in unchanged at scale."""
    from pyspark.sql import Window

    from ..functions.vector import l2_normalize
    from ..operators.core import ensure_parallelism

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        l2_normalize("embedding").alias("__vq"),
    )
    c = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        l2_normalize("embedding").alias("__vc"),
    )
    pairs = (
        ensure_parallelism(q)
        .crossJoin(F.broadcast(c))
        .filter(F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "nlabel",
            "nid",
            F.round(dot("__vq", "__vc"), 6).alias("cos_r"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cos_r").desc(), "nid")
    firsts = (
        pairs.select(
            "qid", "qlabel", "nlabel", F.row_number().over(wk).alias("rk")
        )
        .filter(F.col("nlabel") == F.col("qlabel"))
        .groupBy("qid")
        .agg(F.min("rk").cast("bigint").alias("first_rank"))
    )
    rr_micro = F.round(1000000.0 / F.col("first_rank"), 0).cast("bigint")
    return firsts.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(
            F.sum(rr_micro).cast("double") / 1e6 / F.count("*"), 6
        ).alias("mrr_r"),
        F.round(F.percentile("first_rank", F.lit(0.5)), 6).alias(
            "median_rank_r"
        ),
        F.sum((F.col("first_rank") == 1).cast("int"))
        .cast("bigint")
        .alias("n_top1"),
    )


_MRL_DIMS = (8, 16, 32, 64)
_MRL_NQ = 10  # bounded query set


@query(
    "a355_mrl_truncation_audit",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qa, embedding::DOUBLE[] AS ea
  FROM embeddings WHERE vec_id < {_MRL_NQ}
), c AS (
  SELECT vec_id AS qb, embedding::DOUBLE[] AS eb FROM embeddings
), pairs AS (
  SELECT qa, qb,
         {", ".join(
           f"round(list_cosine_similarity(list_slice(ea, 1, {d}), "
           f"list_slice(eb, 1, {d})), 6) AS c{d}"
           for d in _MRL_DIMS
         )}
  FROM q JOIN c ON qa <> qb
), long AS (
  SELECT qa, qb, d.dim,
         CASE d.dim {" ".join(f"WHEN {d} THEN c{d}" for d in _MRL_DIMS)}
         END AS cos,
         c64
  FROM pairs CROSS JOIN (VALUES {", ".join(f"({d})" for d in _MRL_DIMS)})
       AS d(dim)
), deltas AS (
  SELECT dim, qa, qb, cos,
         CAST(ROUND(abs(cos - c64) * 1000000.0, 0) AS BIGINT)
           AS delta_micro
  FROM long
), top1 AS (
  SELECT dim, qa, qb AS b_top
  FROM (SELECT dim, qa, qb,
               row_number() OVER (PARTITION BY dim, qa
                                  ORDER BY cos DESC, qb) AS rn
        FROM long)
  WHERE rn = 1
), ref AS (
  SELECT qa, b_top AS b_ref FROM top1 WHERE dim = 64
), agree AS (
  SELECT t.dim,
         CAST(SUM(CASE WHEN t.b_top = r.b_ref THEN 1 ELSE 0 END)
              AS BIGINT) AS n_top1_agree
  FROM top1 t JOIN ref r ON r.qa = t.qa
  GROUP BY t.dim
)
SELECT d.dim,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(d.delta_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_abs_delta_r,
       a.n_top1_agree
FROM deltas d JOIN agree a ON a.dim = d.dim
GROUP BY d.dim, a.n_top1_agree
ORDER BY d.dim
""",
    tags=("similarity", "embedding"),
)
def a355_mrl_truncation_audit(spark, sf_dir):
    """Matryoshka-truncation fidelity audit — the measurement behind
    "can I run ANN at 8/16/32 of the 64 dims and keep the neighbors?":
    for each truncation width, the cosine of every (query, candidate)
    pair under the truncated prefix vs the full vector, rolled up to
    (a) mean |Δcosine| — per-pair deltas fixed-pointed to micro units
    BEFORE the sum, so the average is an exact-integer ratio — and
    (b) top-1 neighbor agreement with the full-width ranking. The
    corpus side's four normalized prefixes are computed ONCE per row
    BEFORE the broadcast crossJoin (not once per query×width pair —
    a 10× saving on the dominant normalization work), and both
    roll-ups come out of a SINGLE map-side-combined aggregation over
    the pair table: per (query, width) the |Δcosine| micro-sum and
    the max_by(cos, -qb) top-1 neighbor (identical to the former
    row_number()=1 under (cos DESC, qb) — qb is unique), so no pair
    row is exploded 4× through a shuffle and no window sort runs.
    The dim-64 row is the built-in sanity check (Δ≡0,
    agreement≡n_queries). The 100 TB read: pick the smallest width
    whose agreement holds and run lsh_bucket_ann there, reranking at
    full width."""
    from ..functions.vector import l2_normalize
    from ..operators.core import ensure_parallelism

    e = table(spark, sf_dir, "embeddings")
    # .limit is a no-op (the literal-id filter already bounds the side)
    # that pins the bound in the plan for the broadcast lint
    qs = e.filter(F.col("vec_id") < _MRL_NQ).limit(_MRL_NQ).select(
        F.col("vec_id").alias("qa"),
        *[
            l2_normalize(F.slice(F.col("embedding"), 1, d)).alias(f"qa{d}")
            for d in _MRL_DIMS
        ],
    )
    cs = ensure_parallelism(e).select(
        F.col("vec_id").alias("qb"),
        *[
            l2_normalize(F.slice(F.col("embedding"), 1, d)).alias(f"qb{d}")
            for d in _MRL_DIMS
        ],
    )
    pairs = cs.crossJoin(F.broadcast(qs)).filter(F.col("qa") != F.col("qb"))
    cos_cols = [
        F.round(dot(f"qa{d}", f"qb{d}"), 6).alias(f"c{d}")
        for d in _MRL_DIMS
    ]
    wide = pairs.select("qa", "qb", *cos_cols)
    # one aggregation computes, per query: the pair count, each width's
    # exact micro-unit |Δ| sum, and each width's top-1 neighbor
    per_q = wide.groupBy("qa").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        *[
            F.sum(money(F.abs(F.col(f"c{d}") - F.col("c64")), 6))
            .cast("bigint")
            .alias(f"sd{d}")
            for d in _MRL_DIMS
        ],
        *[
            F.max(
                F.struct(
                    F.col(f"c{d}").alias("c"), (-F.col("qb")).alias("nq")
                )
            ).alias(f"t{d}")
            for d in _MRL_DIMS
        ],
    )
    # reshape the n_queries-row frame to per-dim rows and finish
    per_dim = per_q.select(
        "n_pairs",
        (-F.col("t64.nq")).alias("b_ref"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dim"),
                        F.col(f"sd{d}").alias("sd"),
                        (-F.col(f"t{d}.nq")).alias("b_top"),
                    )
                    for d in _MRL_DIMS
                ]
            )
        ).alias("x"),
    )
    return (
        per_dim.groupBy(F.col("x.dim").alias("dim"))
        .agg(
            F.sum("n_pairs").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("x.sd").cast("double") / 1e6 / F.sum("n_pairs"), 6
            ).alias("avg_abs_delta_r"),
            F.sum((F.col("x.b_top") == F.col("b_ref")).cast("int"))
            .cast("bigint")
            .alias("n_top1_agree"),
        )
        .select("dim", "n_pairs", "avg_abs_delta_r", "n_top1_agree")
        .orderBy("dim")
    )


def _pq_codebook():
    """Deterministic PQ codebook: 4 subspaces x 4 centroids x 16 dims,
    md5-derived and rounded to 6dp so the repr() literals parse to the
    identical doubles in both engines (the q240 hyperplane recipe)."""
    import hashlib

    book = {}
    for m in range(4):
        for k in range(4):
            c = []
            for i in range(16):
                h = int(
                    hashlib.md5(f"pq|{m}|{k}|{i}".encode()).hexdigest()[:8],
                    16,
                )
                c.append(round(h / 0xFFFFFFFF * 2.0 - 1.0, 6))
            book[(m, k)] = c
    return book


def _pq_oracle_sql():
    book = _pq_codebook()
    dist_defs = []
    for m in range(4):
        for k in range(4):
            terms = " + ".join(
                f"(e[{m * 16 + i + 1}] - ({book[(m, k)][i]!r}))"
                f" * (e[{m * 16 + i + 1}] - ({book[(m, k)][i]!r}))"
                for i in range(16)
            )
            dist_defs.append(f"{terms} AS d{m}_{k}")
    assign = []
    for m in range(4):
        d = [f"d{m}_{k}" for k in range(4)]
        assign.append(
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]}"
            f" AND {d[0]} <= {d[3]} THEN 0"
            f" WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1"
            f" WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END AS k{m}, "
            f"least({d[0]}, {d[1]}, {d[2]}, {d[3]}) AS best{m}"
        )
    arms = "\n  UNION ALL\n".join(
        f"SELECT vec_id, {m} AS m, k{m} AS k,"
        f" CAST(ROUND(best{m} * 1000000.0, 0) AS BIGINT) AS e_micro"
        f" FROM assigned"
        for m in range(4)
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), dists AS (
  SELECT vec_id, {", ".join(dist_defs)} FROM vecs
), assigned AS (
  SELECT vec_id, {", ".join(assign)} FROM dists
), long AS (
  {arms}
)
SELECT m, k,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       round(CAST(SUM(e_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_err_r
FROM long
GROUP BY m, k
ORDER BY m, k
"""


@query(
    "a381_product_quantization",
    oracle=_pq_oracle_sql(),
    tags=("similarity", "embedding", "ann"),
)
def a381_product_quantization(spark, sf_dir):
    """Product quantization (PQ) — the compression behind
    billion-scale ANN (IVF-PQ): the 64-dim vector splits into 4
    subvectors, each snapped to its nearest of 4 codebook centroids,
    so a vector stores in 4 small codes (here 8 bits total vs 256
    bytes) and distances evaluate against tiny per-subspace lookup
    tables. The codebook is DETERMINISTIC (md5-derived 6dp literals
    embedded in both plans — the q240 recipe; production would run
    q95's Lloyd iterations per subspace instead), every distance is
    the same left-associated sum of squared diffs in both engines, so
    assignments AND the argmin tie-break (explicit CASE, lowest index
    wins) match exactly. Output: the 16-cell (subspace, centroid)
    assignment census with micro-fixed mean quantization error — the
    codebook-balance/distortion diagnostic that decides whether a
    codebook needs retraining. One projection pass over the corpus;
    zero joins, zero shuffles before the 16-group aggregate. The four
    subspace arms fan out through ONE explode over an inline struct
    array (a unionAll of four selects would re-execute the 256-term
    distance projection once per arm — 4 corpus scans for 1)."""
    from ..operators.core import ensure_parallelism

    book = _pq_codebook()
    e = ensure_parallelism(table(spark, sf_dir, "embeddings"))

    def dist(m, k):
        # one F.expr per distance: building the 256-term tree out of
        # py4j Column ops costs ~4 s of driver time per call; a single
        # SQL string parses JVM-side in one round-trip. arr[i] is
        # 0-based like getItem; CAST('<repr>' AS DOUBLE) is the exact
        # round-trip literal; "+" chains left-associated like the
        # Column chain it replaces.
        terms = " + ".join(
            f"(CAST(embedding[{m * 16 + i}] AS DOUBLE)"
            f" - {sql_double(book[(m, k)][i])})"
            f" * (CAST(embedding[{m * 16 + i}] AS DOUBLE)"
            f" - {sql_double(book[(m, k)][i])})"
            for i in range(16)
        )
        return F.expr(terms)

    dists = e.select(
        "vec_id",
        *[
            dist(m, k).alias(f"d{m}_{k}")
            for m in range(4)
            for k in range(4)
        ],
    )

    def argmin(m):
        d = [F.col(f"d{m}_{k}") for k in range(4)]
        return (
            F.when((d[0] <= d[1]) & (d[0] <= d[2]) & (d[0] <= d[3]), 0)
            .when((d[1] <= d[2]) & (d[1] <= d[3]), 1)
            .when(d[2] <= d[3], 2)
            .otherwise(3)
        )

    assigned = dists.select(
        "vec_id",
        *[argmin(m).alias(f"k{m}") for m in range(4)],
        *[
            F.least(*[F.col(f"d{m}_{k}") for k in range(4)]).alias(
                f"best{m}"
            )
            for m in range(4)
        ],
    )
    arms = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.col(f"k{m}").alias("k"),
                money(F.col(f"best{m}"), 6).alias("e_micro"),
            )
            for m in range(4)
        ]
    )
    long = assigned.select(F.explode(arms).alias("a")).select(
        F.col("a.m").alias("m"),
        F.col("a.k").alias("k"),
        F.col("a.e_micro").alias("e_micro"),
    )
    return (
        long.groupBy("m", "k")
        .agg(
            F.count("*").cast("bigint").alias("n_assigned"),
            F.round(
                F.sum("e_micro").cast("double") / 1e6 / F.count("*"), 6
            ).alias("avg_err_r"),
        )
        .orderBy("m", "k")
    )


@query(
    "a570_isotropy_audit",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), u AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(ROUND(1000.0 * x
           / sqrt(list_dot_product(v, v)), 0) AS BIGINT)) AS uf
  FROM e
), comp AS (
  SELECT vec_id, i AS dim, uf[i] AS c
  FROM u, unnest(generate_series(1, len(uf))) AS t(i)
), per_vec AS (
  SELECT vec_id, CAST(SUM(c * c) AS BIGINT) AS nsq FROM comp GROUP BY vec_id
), per_dim AS (
  SELECT dim, CAST(SUM(c) AS BIGINT) AS s FROM comp GROUP BY dim
), agg AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM per_vec) AS n_vecs,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM per_dim) AS n_dims,
         (SELECT CAST(SUM(nsq) AS BIGINT) FROM per_vec) AS t_norm,
         (SELECT CAST(SUM(s * s) AS BIGINT) FROM per_dim) AS s_sq
)
SELECT n_vecs, n_dims,
       round(t_norm / 1e6 / n_vecs, 6) AS avg_norm_sq_r,
       round((s_sq - t_norm) / 1e6
             / (CAST(n_vecs AS DOUBLE) * (n_vecs - 1)), 6)
         AS mean_pairwise_cosine_r
FROM agg
""",
    tags=("similarity", "audit"),
)
def a570_isotropy_audit(spark, sf_dir):
    """Embedding isotropy audit — the EXACT mean pairwise cosine of
    the whole corpus WITHOUT any pair enumeration, via the Gram
    identity Σᵢ≠ⱼ⟨uᵢ,uⱼ⟩ = ‖Σᵢuᵢ‖² − Σᵢ‖uᵢ‖²: one component explode,
    one per-dimension sum, one per-vector sum — O(n·d) where the naive
    audit is O(n²·d). A mean cosine far above 0 is the anisotropy /
    "narrow cone" pathology that silently inflates every similarity
    score downstream (ANN q37/q83, SemDeDup q144, kNN-eval q297), so
    this is the go/no-go check before trusting any of them. Unit
    vectors are milli-fixed (round(1000·x/‖v‖) — the norm via the
    q39-proven sqrt∘dot fold), making every sum an exact BIGINT
    (|S_d| ≤ 1000·n so S² fits 2⁶³ through sf10) and the two output
    ratios closed-form doubles. At 100 TB this is one pass and a
    64-row reduction."""
    from ..functions.vector import unit_fixed
    from ..operators.core import ensure_parallelism

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    u = ensure_parallelism(e).select(
        "vec_id", unit_fixed("v", 1000.0).alias("uf")
    )
    comp = u.select(
        "vec_id", F.posexplode("uf").alias("dim0", "c")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "c")
    per_vec = comp.groupBy("vec_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("nsq")
    )
    per_dim = comp.groupBy("dim").agg(
        F.sum("c").cast("bigint").alias("s")
    )
    nv = per_vec.agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum("nsq").cast("bigint").alias("t_norm"),
    )
    nd = per_dim.agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("s_sq"),
    )
    return nv.join(F.broadcast(nd)).select(
        "n_vecs",
        "n_dims",
        F.round(F.col("t_norm") / 1e6 / F.col("n_vecs"), 6).alias(
            "avg_norm_sq_r"
        ),
        F.round(
            (F.col("s_sq") - F.col("t_norm"))
            / 1e6
            / (F.col("n_vecs").cast("double") * (F.col("n_vecs") - 1)),
            6,
        ).alias("mean_pairwise_cosine_r"),
    )


@query(
    "a419_triplet_violations",
    oracle="""
WITH n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM embeddings
), pos AS (
  SELECT vec_id,
         COALESCE(lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id),
                  MIN(vec_id) OVER (PARTITION BY label)) AS p_id
  FROM embeddings
), trip AS (
  SELECT a.vec_id, a.label,
         p.p_id,
         (a.vec_id + 1) % (SELECT nv FROM n) AS n_id
  FROM embeddings a JOIN pos p ON p.vec_id = a.vec_id
  WHERE p.p_id <> a.vec_id
), valid AS (
  SELECT t.vec_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      pp.embedding::DOUBLE[]), 6) AS cos_ap,
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      nn.embedding::DOUBLE[]), 6) AS cos_an
  FROM trip t
  JOIN embeddings a ON a.vec_id = t.vec_id
  JOIN embeddings pp ON pp.vec_id = t.p_id
  JOIN embeddings nn ON nn.vec_id = t.n_id
  WHERE nn.label <> t.label
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets,
       CAST(SUM(CASE WHEN cos_ap < cos_an THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       round(CAST(SUM(CASE WHEN cos_ap < cos_an THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS violation_rate_r,
       round(SUM(CAST(ROUND((cos_ap - cos_an) * 1000000.0, 0) AS BIGINT))
             / 1e6 / COUNT(*), 6) AS mean_margin_r
FROM valid
""",
    tags=("similarity", "eval"),
)
def a419_triplet_violations(spark, sf_dir):
    """Triplet-violation rate of the embedding space — for every
    anchor, one DETERMINISTIC same-label positive (the cyclic
    successor within the label, via one lead window) and one
    deterministic negative (the id-successor mod N, kept when its
    label differs), count how often cos(a,p) < cos(a,n). This is the
    metric-learning loss surface measured directly — the
    triplet-margin complement of q297 (majority vote) and q340 (first
    relevant rank): those grade retrieval, this grades the GEOMETRY'S
    margin, and the mean margin (micro-fixed from the 6dp rounded
    cosine contract) says how much slack ANN quantization (a381/q89)
    can spend before violations flip. O(n) triplets — two cosines per
    anchor via three id equi-joins, never a pairwise sweep — so the
    audit is corpus-linear at any sf."""
    from pyspark.sql import Window

    from ..functions.vector import l2_normalize
    from ..operators.core import ensure_parallelism

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", l2_normalize("embedding").alias("__v")
    ).localCheckpoint(eager=False)
    n = e.agg(F.count("*").cast("bigint").alias("nv"))
    wl = Window.partitionBy("label").orderBy("vec_id")
    pos = e.select(
        "vec_id",
        F.coalesce(
            F.lead("vec_id").over(wl),
            F.min("vec_id").over(Window.partitionBy("label")),
        ).alias("p_id"),
    )
    trip = (
        ensure_parallelism(e)
        .join(pos, "vec_id")
        .join(F.broadcast(n))
        .filter(F.col("p_id") != F.col("vec_id"))
        .select(
            "vec_id",
            "label",
            "__v",
            "p_id",
            ((F.col("vec_id") + 1) % F.col("nv")).alias("n_id"),
        )
    )
    pp = e.select(
        F.col("vec_id").alias("p_id"), F.col("__v").alias("__vp")
    )
    nn = e.select(
        F.col("vec_id").alias("n_id"),
        F.col("label").alias("n_label"),
        F.col("__v").alias("__vn"),
    )
    valid = (
        trip.join(pp, "p_id")
        .join(nn, "n_id")
        .filter(F.col("n_label") != F.col("label"))
        .select(
            F.round(dot("__v", "__vp"), 6).alias("cos_ap"),
            F.round(dot("__v", "__vn"), 6).alias("cos_an"),
        )
    )
    viol = (F.col("cos_ap") < F.col("cos_an")).cast("int")
    return valid.agg(
        F.count("*").cast("bigint").alias("n_triplets"),
        F.sum(viol).cast("bigint").alias("n_violations"),
        F.round(
            F.sum(viol).cast("double") / F.count("*"), 6
        ).alias("violation_rate_r"),
        F.round(
            F.sum(money(F.col("cos_ap") - F.col("cos_an"), 6))
            / 1e6
            / F.count("*"),
            6,
        ).alias("mean_margin_r"),
    )


@query(
    "a420_centroid_classifier",
    oracle="""
WITH comp AS (
  SELECT vec_id, label, i AS pos,
         CAST(ROUND(embedding[i] * 1000000.0, 0) AS BIGINT) AS x_fp
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), cent AS (
  SELECT label AS clabel, pos,
         CAST(ROUND(SUM(x_fp) / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT)
           AS c_fp
  FROM comp GROUP BY clabel, pos
), dist AS (
  SELECT c.vec_id, c.label, ce.clabel,
         CAST(SUM((c.x_fp - ce.c_fp) * (c.x_fp - ce.c_fp)) AS BIGINT)
           AS d_fp
  FROM comp c JOIN cent ce ON ce.pos = c.pos
  GROUP BY c.vec_id, c.label, ce.clabel
), assign AS (
  SELECT vec_id, label, clabel AS predicted
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d_fp, clabel) AS rk
        FROM dist)
  WHERE rk = 1
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS accuracy_r
FROM assign
GROUP BY label
ORDER BY label
""",
    tags=("similarity", "ml"),
)
def a420_centroid_classifier(spark, sf_dir):
    """Nearest-class-centroid classification accuracy per label — the
    Rocchio classifier, the PARAMETRIC yardstick between q297's
    instance-based LOO-kNN (O(n²) scoring) and a full model: k
    centroids from one pass, assignment from n·k·d distance terms —
    the evaluation that says whether class structure is LINEARLY
    separated by centroids or only locally (kNN ≫ centroid accuracy ⇒
    multi-modal classes, and SemDeDup-style cells are the better
    unit). Fixed-point end-to-end: micro-scaled components sum to
    exact centroid BIGINTs (ROUND(sum/n) — one rounded division),
    squared distances are exact integer sums via the per-dimension
    equi-join on position (never an array broadcast), argmin breaks
    ties toward the smaller label. The per-dimension join is n·d×k
    rows — corpus-linear — and every aggregate is
    map-side-combinable."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    from ..operators.core import ensure_parallelism

    comp = (
        ensure_parallelism(e)
        .select(
            "vec_id",
            "label",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: money(x.cast("double"), 6),
                )
            ).alias("pos0", "x_fp"),
        )
        .select(
            "vec_id", "label", (F.col("pos0") + 1).alias("pos"), "x_fp"
        )
        .localCheckpoint(eager=False)
    )
    cent = comp.groupBy(
        F.col("label").alias("clabel"), "pos"
    ).agg(
        F.round(F.sum("x_fp") / F.count("*").cast("double"), 0)
        .cast("bigint")
        .alias("c_fp")
    )
    dist = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("x_fp") - F.col("c_fp"))
                * (F.col("x_fp") - F.col("c_fp"))
            )
            .cast("bigint")
            .alias("d_fp")
        )
    )
    assign = (
        dist.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("d_fp", "clabel")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("label", F.col("clabel").alias("predicted"))
    )
    return (
        assign.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum((F.col("predicted") == F.col("label")).cast("int"))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum((F.col("predicted") == F.col("label")).cast("int"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("accuracy_r"),
        )
        .orderBy("label")
    )


def _weiszfeld_oracle(iters: int = 6, dim: int = 64) -> str:
    """Unrolled Weiszfeld iterations as chained CTEs (one relational
    aggregation pass per step — same shape the Spark side plans), so
    the oracle never needs aggregates inside a recursive term."""
    head = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), dims AS (
  SELECT CAST(p AS INT) AS p FROM range({dim}) t(p)
), ex AS (
  SELECT e.label, d.p, e.v[d.p + 1] AS x FROM e CROSS JOIN dims d
), m0 AS (
  SELECT label, p,
         CAST(ROUND(SUM(CAST(ROUND(x * 1000000000.0, 0) AS BIGINT))
                    / COUNT(*), 0) AS BIGINT) / 1000000000.0 AS y
  FROM ex GROUP BY label, p
), y0 AS (
  SELECT label, list(y ORDER BY p) AS y FROM m0 GROUP BY label
)"""
    # MATERIALIZED is load-bearing: DuckDB inlines a CTE once per
    # reference, and d{k} is referenced twice (num{k} + den{k}) while
    # y{k} feeds the next d — without it the distance chain re-inlines
    # ~2^k times (~40 s parity wall at sf0.01 vs Spark's ~1 s).
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""", d{k} AS MATERIALIZED (
  SELECT e.label, e.v,
         sqrt(list_reduce(list_transform(range({dim}), q ->
           (e.v[q + 1] - y.y[q + 1]) * (e.v[q + 1] - y.y[q + 1])),
           (acc, t) -> acc + t)) AS dist
  FROM e JOIN y{k - 1} y USING (label)
), num{k} AS (
  SELECT d.label, dm.p,
         CAST(SUM(CAST(ROUND(d.v[dm.p + 1] / d.dist * 1000000000.0, 0)
                       AS BIGINT)) AS BIGINT) AS num_fp
  FROM d{k} d CROSS JOIN dims dm WHERE d.dist > 0
  GROUP BY d.label, dm.p
), den{k} AS (
  SELECT label,
         CAST(SUM(CAST(ROUND(1000000000000.0 / dist, 0) AS BIGINT))
              AS BIGINT) AS den_fp
  FROM d{k} WHERE dist > 0 GROUP BY label
), y{k} AS MATERIALIZED (
  SELECT n.label,
         list(CAST(n.num_fp AS DOUBLE) * 1000.0 / de.den_fp
              ORDER BY n.p) AS y
  FROM num{k} n JOIN den{k} de ON de.label = n.label
  GROUP BY n.label
)""")
    tail = f"""
SELECT y.label, d.p, round(y.y[d.p + 1], 6) AS coord_r,
       c.n_members
FROM y{iters} y
CROSS JOIN dims d
JOIN (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM e GROUP BY label) c ON c.label = y.label
ORDER BY y.label, d.p"""
    return head + "".join(steps) + tail


@query(
    "a440_geometric_median",
    oracle=_weiszfeld_oracle(),
    tags=("similarity", "robust"),
)
def a440_geometric_median(spark, sf_dir):
    """Per-label geometric median of the embedding cloud via
    Weiszfeld's algorithm (y ← Σxᵢ/dᵢ / Σ1/dᵢ, dᵢ = ‖xᵢ−y‖), the
    robust centroid that a single poisoned/outlier vector cannot drag
    the way the k-means mean can — the aggregation rule behind robust
    federated averaging and outlier-proof class prototypes. Six fixed
    iterations from the fixed-point per-dimension mean, with every
    per-(label,dim) term fixed-pointed to BIGINT so the reduction is
    order-independent and a 1000-executor sum bit-matches DuckDB's
    serial one. The iterations need only the (label, v) rows, which
    are collected once through ``collect_vector_panel`` (≤100k rows)
    and iterated DRIVER-SIDE in numpy (the q249/a448/a191
    bounded-state recipe): int64 sums are exact in any order, the
    distance fold is replayed dim-by-dim in index order, and
    F.round(double, 0) is replicated by functions.exact's HALF_UP
    vector replica — one collect + one literal scan. Terminal
    round(_, 6) stays engine-side. A corpus above the cap raises
    ValueError."""
    from ..operators.core import collect_vector_panel

    src = table(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    panel = collect_vector_panel(
        src, "label", "v", _A440_MAX_ROWS, "a440_geometric_median embeddings"
    )
    return _a440_driver_exact(spark, *panel)


# driver-side corpus bound for a440: 100k rows × 64 dims ≈ 51 MB of
# float64 panel (plus one int64 twin while fixed-pointing) — well under
# driver headroom; every fixture is orders of magnitude below it
_A440_MAX_ROWS = 100_000


def _a440_driver_exact(spark, lab, X):
    """Driver replica of the six Weiszfeld passes on the collected
    (label, vector) panel (clean-shape checks already done by
    collect_vector_panel). Raises ValueError when a fixed-point term
    lands near the int64 edge, where the BIGINT cast would overflow."""
    import numpy as np

    from ..functions.exact import round0_half_up_vec

    n, dim = X.shape
    uniq, li = np.unique(lab, return_inverse=True)
    n_labels = len(uniq)
    cnt = np.bincount(li, minlength=n_labels).astype(np.int64)
    scale = 1000000000.0
    guard = float(2**62)

    # y0: fixed-point per-dimension mean — SUM(CAST(ROUND(x·1e9) AS
    # BIGINT)) per (label, p), then ROUND(s/cnt)·1e-9
    t0 = X * scale
    if t0.size and np.abs(t0).max() >= guard:
        raise ValueError(
            "a440_geometric_median: a fixed-point mean term exceeds 2**62"
        )
    s0 = np.zeros((n_labels, dim), np.int64)
    np.add.at(s0, li, round0_half_up_vec(t0))
    y = (
        round0_half_up_vec(
            s0.astype(np.float64) / cnt.astype(np.float64)[:, None]
        ).astype(np.float64)
        / scale
    )

    active = np.ones(n_labels, dtype=bool)
    for _ in range(6):
        idx = np.nonzero(active[li])[0]
        Xa = X[idx]
        Ya = y[li[idx]]
        # row-local distance fold, index order (left fold, exact IEEE)
        acc = np.zeros(len(idx), np.float64)
        for q in range(dim):
            dq = Xa[:, q] - Ya[:, q]
            acc = acc + dq * dq
        dist = np.sqrt(acc)
        m = dist > 0.0
        idx, Xa, dist = idx[m], Xa[m], dist[m]
        lm = li[idx]
        # a label whose every member sits exactly on the estimate
        # drops out of the aggregate — and, via the inner join, out
        # of every later pass and the output (same as the plan)
        survived = np.zeros(n_labels, dtype=bool)
        survived[lm] = True
        active &= survived
        tf = (Xa / dist[:, None]) * scale
        df = 1000000000000.0 / dist
        if len(idx) and (
            np.abs(tf).max() >= guard or np.abs(df).max() >= guard
        ):
            raise ValueError(
                "a440_geometric_median: a fixed-point Weiszfeld term"
                " exceeds 2**62"
            )
        num = np.zeros((n_labels, dim), np.int64)
        den = np.zeros(n_labels, np.int64)
        np.add.at(num, lm, round0_half_up_vec(tf))
        np.add.at(den, lm, round0_half_up_vec(df))
        with np.errstate(divide="ignore", invalid="ignore"):
            y = (num.astype(np.float64) * 1000.0) / den.astype(
                np.float64
            )[:, None]

    out_rows = [
        (int(uniq[l]), int(p), float(y[l, p]), int(cnt[l]))
        for l in np.nonzero(active)[0]
        for p in range(dim)
    ]
    return (
        literal_frame(
            spark,
            out_rows,
            "label int, p int, coord double, n_members bigint",
        )
        .select(
            "label",
            "p",
            F.round("coord", 6).alias("coord_r"),
            "n_members",
        )
        .orderBy("label", "p")
    )


_LOF_DIST_FP = """CAST(ROUND(sqrt(list_reduce(list_transform(range(64), q ->
    (p.v[q + 1] - c.v[q + 1]) * (p.v[q + 1] - c.v[q + 1])),
    (acc, t) -> acc + t)) * 1000000000.0, 0) AS BIGINT)"""


@query(
    "a450_lof_panel",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), tp AS (
  SELECT p.vec_id AS src, c.vec_id AS cand, {_LOF_DIST_FP} AS r_fp,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY {_LOF_DIST_FP}, c.vec_id) AS rn
  FROM e p JOIN e c ON c.vec_id != p.vec_id
  WHERE p.vec_id < 30
  QUALIFY rn <= 5
), nbr AS (
  SELECT DISTINCT cand AS id FROM tp
), tn AS (
  SELECT p.vec_id AS src, c.vec_id AS cand, {_LOF_DIST_FP} AS r_fp,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY {_LOF_DIST_FP}, c.vec_id) AS rn
  FROM e p JOIN nbr ON nbr.id = p.vec_id
  JOIN e c ON c.vec_id != p.vec_id
  QUALIFY rn <= 5
), hop AS (
  SELECT DISTINCT cand AS id FROM tn
), th AS (
  SELECT p.vec_id AS src, {_LOF_DIST_FP} AS r_fp,
         row_number() OVER (PARTITION BY p.vec_id
           ORDER BY {_LOF_DIST_FP}, c.vec_id) AS rn
  FROM e p JOIN hop ON hop.id = p.vec_id
  JOIN e c ON c.vec_id != p.vec_id
  QUALIFY rn = 5
), kd_n AS (
  SELECT src AS id, r_fp FROM tn WHERE rn = 5
), kd_h AS (
  SELECT src AS id, r_fp FROM th
), lrd_o AS (
  SELECT t.src AS id,
         CAST(ROUND(5000000000000000000.0
           / greatest(SUM(greatest(t.r_fp, k.r_fp)), 5), 0)
           AS BIGINT) AS lrd_fp
  FROM tn t JOIN kd_h k ON k.id = t.cand
  GROUP BY t.src
), lrd_p AS (
  SELECT t.src AS id,
         CAST(ROUND(5000000000000000000.0
           / greatest(SUM(greatest(t.r_fp, k.r_fp)), 5), 0)
           AS BIGINT) AS lrd_fp
  FROM tp t JOIN kd_n k ON k.id = t.cand
  GROUP BY t.src
), kd_p AS (
  SELECT src AS id, r_fp FROM tp WHERE rn = 5
)
SELECT p.id AS vec_id,
       round(kp.r_fp / 1000000000.0, 6) AS kdist_r,
       round(CAST(SUM(lo.lrd_fp) AS DOUBLE) / (5.0 * p.lrd_fp), 6)
         AS lof_r
FROM lrd_p p
JOIN tp t ON t.src = p.id
JOIN lrd_o lo ON lo.id = t.cand
JOIN kd_p kp ON kp.id = p.id
GROUP BY p.id, p.lrd_fp, kp.r_fp
ORDER BY vec_id
""",
    tags=("similarity", "anomaly"),
)
def a450_lof_panel(spark, sf_dir):
    """Local Outlier Factor (k=5) for a bounded 30-vector panel — the
    density-ratio anomaly score that flags points whose neighborhood
    is SPARSER than their neighbors' neighborhoods (LOF ≈ 1 inlier,
    ≫ 1 outlier), complementing the registry's series-based anomaly
    stack (q306 votes on time, this votes on embedding-space
    density). Exact LOF needs 2-hop neighborhoods: three bounded-side
    × corpus sweeps (panel 30 → its neighbors ≤150 → their neighbors
    ≤750), each top-5 by an exact integer (r_fp, id) ranking, then a
    ≤750-row reach/lrd/LOF tail. The corpus is collected once through
    ``collect_vector_panel`` (≤100k rows) and the sweeps run
    driver-side (the a440 recipe): the fp distance folds dim-by-dim in
    index order on the collected float64s, F.round(·, 0) goes through
    the functions.exact HALF_UP vector replica, and top-5 is a lexsort
    on exact (r_fp, cand) integers. Terminal round(_, 6) stays
    engine-side on the literal frame. A corpus above the cap raises
    ValueError; a corpus-wide variant would swap the brute-force sweep
    for the LSH/IVF candidate generators (q38/q56) feeding identical
    reach/lrd algebra."""
    from ..operators.core import collect_vector_panel

    src = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    panel = collect_vector_panel(
        src, "vec_id", "v", _A450_MAX_ROWS, "a450_lof_panel embeddings"
    )
    return _a450_driver_exact(spark, *panel)


# driver-side corpus bound for a450 (same rationale as _A440_MAX_ROWS;
# the worst-case sweep is then 750 × 100k × 64 numpy flops)
_A450_MAX_ROWS = 100_000


def _a450_driver_exact(spark, ids, X):
    """Driver replica of the three top-5 sweeps: exact fp distances,
    (r_fp, cand) lexsort, id-inequality self-exclusion. Raises
    ValueError for duplicate ids or fp terms near the int64 edge."""
    import numpy as np

    from ..functions.exact import round0_half_up_vec

    if len(np.unique(ids)) != len(ids):
        raise ValueError("a450_lof_panel: embeddings has duplicate vec_ids")
    n, dim = X.shape
    pos = {int(i): k for k, i in enumerate(ids)}
    guard = float(2**62)

    xt = np.ascontiguousarray(X.T)

    def sweep(src_ids, keep_all):
        out = []
        ss = sorted(src_ids)
        # vectorize the fold across a chunk of sources at once (the
        # per-element op sequence is unchanged — same IEEE results)
        for c0 in range(0, len(ss), 64):
            chunk = ss[c0 : c0 + 64]
            pv = np.array([X[pos[s]] for s in chunk], np.float64)
            acc = np.zeros((len(chunk), n), np.float64)
            for q in range(dim):
                d = pv[:, q][:, None] - xt[q][None, :]
                acc += d * d
            rf_f = np.sqrt(acc) * 1000000000.0
            if rf_f.size and np.abs(rf_f).max() >= guard:
                raise ValueError(
                    "a450_lof_panel: a fixed-point distance exceeds 2**62"
                )
            rf_c = round0_half_up_vec(rf_f)
            for k, s in enumerate(chunk):
                m = ids != s
                cand, r = ids[m], rf_c[k][m]
                order = np.lexsort((cand, r))[:5]
                for rn, j in enumerate(order, start=1):
                    if keep_all or rn == 5:
                        out.append((int(s), int(cand[j]), int(r[j]), rn))
        return out

    pan_ids = [int(i) for i in ids if i < 30]
    tp = sweep(pan_ids, keep_all=True)
    tn = sweep({c for (_, c, _, _) in tp}, keep_all=True)
    th = sweep({c for (_, c, _, _) in tn}, keep_all=False)
    return _a450_tail(
        spark,
        tp,
        tn,
        [(s, r) for (s, _, r, _) in th],
    )


def _a450_tail(spark, tp, tn, th):
    """Driver-side reach/lrd/LOF tail over the ≤750-row top-5 tables
    (tp/tn as (src, cand, r_fp, rn) tuples, th as (src, r_fp))."""
    from ..functions.exact import round0_half_up

    kd_n = {s: r for (s, _, r, rn) in tn if rn == 5}
    kd_h = dict(th)
    kd_p = {s: r for (s, _, r, rn) in tp if rn == 5}

    def lrd(t5, kd):
        # exact-duplicate neighborhoods sum to 0 reach distance (every
        # copy at distance 0 — the 10x amplified corpus does this for
        # real); floor at one fp unit per neighbor (5 total) so lrd
        # caps at 1e18 (5 summed stay inside BIGINT) instead of
        # dividing by zero, and co-duplicate clusters score LOF = 1.
        # A cand without a kd row mirrors the former inner join: the
        # pair is skipped, and a source with no surviving pair emits
        # no lrd row at all.
        s: dict = {}
        for (src, cand, r, _) in t5:
            k = kd.get(cand)
            if k is None:
                continue
            s[src] = s.get(src, 0) + max(r, k)
        return {
            src: round0_half_up(5.0e18 / float(max(tot, 5)))
            for src, tot in s.items()
        }

    lrd_o = lrd(tn, kd_h)
    lrd_p = lrd(tp, kd_n)
    # Final assembly (formerly a 10-broadcast-join tree): per panel id,
    # the exact BIGINT sum of its 5 neighbors' lrd — inner-join drop
    # semantics replicated by the dict lookups.
    sum_olrd: dict = {}
    for (p, cand, _, _) in tp:
        if p not in lrd_p or p not in kd_p:
            continue
        o = lrd_o.get(cand)
        if o is None:
            continue
        sum_olrd[p] = sum_olrd.get(p, 0) + o
    out_rows = [
        (int(p), kd_p[p], lrd_p[p], sum_olrd[p]) for p in sorted(sum_olrd)
    ]
    return (
        literal_frame(
            spark,
            out_rows,
            "vec_id bigint, kd_fp bigint, lrd_fp bigint, sum_olrd bigint",
        )
        .select(
            "vec_id",
            F.round(F.col("kd_fp") / 1000000000.0, 6).alias("kdist_r"),
            F.round(
                F.col("sum_olrd").cast("double")
                / (5.0 * F.col("lrd_fp")),
                6,
            ).alias("lof_r"),
        )
        .orderBy("vec_id")
    )


@query(
    "a454_hopkins_statistic",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dims AS (
  SELECT CAST(p AS INT) AS p FROM range(64) t(p)
), bounds AS (
  SELECT d.p, MIN(e.v[d.p + 1]) AS lo, MAX(e.v[d.p + 1]) AS hi
  FROM e CROSS JOIN dims d GROUP BY d.p
), barr AS (
  SELECT list(lo ORDER BY p) AS lo, list(hi ORDER BY p) AS hi
  FROM bounds
), probes AS (
  SELECT CAST(pid AS BIGINT) AS pid,
         list_transform(range(64), p ->
           b.lo[p + 1]
           + (CAST(('0x' || substr(md5(CAST(pid AS VARCHAR) || '_'
               || CAST(p AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0)
             * (b.hi[p + 1] - b.lo[p + 1])) AS pv
  FROM range(25) t(pid) CROSS JOIN barr b
), udist AS (
  SELECT pr.pid,
         MIN(CAST(ROUND(sqrt(list_reduce(list_transform(range(64), q ->
           (pr.pv[q + 1] - c.v[q + 1]) * (pr.pv[q + 1] - c.v[q + 1])),
           (acc, x) -> acc + x)) * 1000000000.0, 0) AS BIGINT)) AS u_fp
  FROM probes pr CROSS JOIN e c
  GROUP BY pr.pid
), wdist AS (
  SELECT p.vec_id,
         MIN(CAST(ROUND(sqrt(list_reduce(list_transform(range(64), q ->
           (p.v[q + 1] - c.v[q + 1]) * (p.v[q + 1] - c.v[q + 1])),
           (acc, x) -> acc + x)) * 1000000000.0, 0) AS BIGINT)) AS w_fp
  FROM e p JOIN e c ON c.vec_id != p.vec_id
  WHERE p.vec_id >= 100 AND p.vec_id < 125
  GROUP BY p.vec_id
), sums AS (
  SELECT (SELECT CAST(SUM(u_fp) AS BIGINT) FROM udist) AS su,
         (SELECT CAST(SUM(w_fp) AS BIGINT) FROM wdist) AS sw
)
SELECT CAST(25 AS BIGINT) AS m, su AS sum_u_fp, sw AS sum_w_fp,
       round(CAST(su AS DOUBLE) / (su + sw), 6) AS hopkins_r
FROM sums
""",
    tags=("similarity", "clustering"),
)
def a454_hopkins_statistic(spark, sf_dir):
    """Hopkins statistic — the clusterability pre-test that answers
    "is there ANY cluster structure worth finding?" BEFORE spending a
    k-means/HDBSCAN run (H ≈ 0.5 → indistinguishable from uniform
    noise; → 1 → strongly clustered). 25 synthetic probes are placed
    hash-uniformly inside the per-dimension bounding box (md5-derived
    u ∈ [0,1) — the q141 deterministic-coin discipline, so both
    engines generate IDENTICAL probe coordinates), 25 real panel
    points (vec_id 100–124, limit-pinned) are drawn from the data,
    and H = Σu/(Σu+Σw) compares nearest-neighbor distances of probes
    vs real points (the d=1 practical variant). Both NN sweeps are
    bounded-side×corpus broadcasts with fixed-point MINs — exact
    BIGINT sums, one scan each. At 100 TB the same two sweeps ride
    the ANN candidate generators instead of brute force; the bounding
    box comes from the same per-dim aggregate."""
    from ..operators.core import ensure_parallelism

    e = ensure_parallelism(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint(eager=False)
    bounds = (
        e.select(F.posexplode("v").alias("p", "x"))
        .groupBy("p")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    barr = bounds.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("p", "lo"))), lambda s: s["lo"]
        ).alias("lo"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("p", "hi"))), lambda s: s["hi"]
        ).alias("hi"),
    )
    pid = spark.range(25).select(F.col("id").cast("bigint").alias("pid"))
    probes = (
        pid.crossJoin(F.broadcast(barr))
        .select(
            "pid",
            F.transform(
                F.sequence(F.lit(0), F.lit(63)),
                lambda p: F.get(F.col("lo"), p)
                + (
                    md5_bits(
                        F.concat(
                            F.col("pid").cast("string"),
                            F.lit("_"),
                            p.cast("string"),
                        ),
                        8,
                    )
                    / 4294967296.0
                )
                * (F.get(F.col("hi"), p) - F.get(F.col("lo"), p)),
            ).alias("pv"),
        )
        .limit(25)
    )
    d_fp = money(
        F.sqrt(
            F.aggregate(
                F.zip_with("pv", "v", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        9,
    )
    udist = (
        e.crossJoin(F.broadcast(probes))
        .select("pid", d_fp.alias("fp"))
        .groupBy("pid")
        .agg(F.min("fp").alias("u_fp"))
    )
    panel = (
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 125))
        .limit(25)
        .select(F.col("vec_id").alias("pid"), F.col("v").alias("pv"))
    )
    wdist = (
        e.crossJoin(F.broadcast(panel))
        .filter(F.col("vec_id") != F.col("pid"))
        .select("pid", d_fp.alias("fp"))
        .groupBy("pid")
        .agg(F.min("fp").alias("w_fp"))
    )
    su = udist.agg(F.sum("u_fp").cast("bigint").alias("su"))
    sw = wdist.agg(F.sum("w_fp").cast("bigint").alias("sw"))
    return (
        su.crossJoin(F.broadcast(sw))
        .select(
            F.lit(25).cast("bigint").alias("m"),
            F.col("su").alias("sum_u_fp"),
            F.col("sw").alias("sum_w_fp"),
            F.round(
                F.col("su").cast("double") / (F.col("su") + F.col("sw")), 6
            ).alias("hopkins_r"),
        )
    )


@query(
    "a455_energy_distance",
    oracle="""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         CAST(vec_id % 2 AS INT) AS par
  FROM embeddings
), pairs AS (
  SELECT a.label,
         CASE WHEN a.par = 0 AND b.par = 0 THEN 'ee'
              WHEN a.par = 1 AND b.par = 1 THEN 'oo'
              ELSE 'eo' END AS pt,
         CAST(ROUND(sqrt(list_reduce(list_transform(range(64), q ->
           (a.v[q + 1] - b.v[q + 1]) * (a.v[q + 1] - b.v[q + 1])),
           (acc, x) -> acc + x)) * 1000000000.0, 0) AS BIGINT) AS r_fp
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
), agg AS (
  SELECT label, pt, CAST(SUM(r_fp) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs GROUP BY label, pt
), wide AS (
  SELECT label,
         MAX(CASE WHEN pt = 'eo' THEN s END) AS s_eo,
         MAX(CASE WHEN pt = 'eo' THEN c END) AS c_eo,
         MAX(CASE WHEN pt = 'ee' THEN s END) AS s_ee,
         MAX(CASE WHEN pt = 'ee' THEN c END) AS c_ee,
         MAX(CASE WHEN pt = 'oo' THEN s END) AS s_oo,
         MAX(CASE WHEN pt = 'oo' THEN c END) AS c_oo
  FROM agg GROUP BY label
)
SELECT label, c_eo AS n_cross_pairs,
       round(2.0 * (CAST(s_eo AS DOUBLE) / c_eo) / 1000000000.0
             - (CAST(s_ee AS DOUBLE) / c_ee) / 1000000000.0
             - (CAST(s_oo AS DOUBLE) / c_oo) / 1000000000.0, 6)
         AS energy_dist_r,
       round((CAST(s_eo AS DOUBLE) / c_eo) / 1000000000.0, 6)
         AS mean_cross_r,
       round((CAST(s_ee AS DOUBLE) / c_ee) / 1000000000.0, 6)
         AS mean_even_r,
       round((CAST(s_oo AS DOUBLE) / c_oo) / 1000000000.0, 6)
         AS mean_odd_r
FROM wide ORDER BY label
""",
    tags=("similarity", "drift"),
)
def a455_energy_distance(spark, sf_dir):
    """Energy-distance two-sample test per label, even vs odd vec_ids
    (the deterministic stand-in for encoder release A vs B):
    E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖, zero iff the two DISTRIBUTIONS
    coincide — which is exactly what the centroid-based drift monitor
    (q280) cannot see: two clouds with identical centroids but
    different spread give q280 a clean bill and light this metric up.
    One within-label self-join generates every unordered pair ONCE
    (label-bounded — never corpus×corpus; at 100 TB the split panels
    are subsampled per label first), with the pair type (even-even /
    odd-odd / cross) classified inline so all three means come from a
    single shuffle. Distances are fixed-pointed per pair, so the
    three sums are exact BIGINTs and the final combination is a
    deterministic double of exact integers on both engines."""
    from ..operators.core import ensure_parallelism

    e = (
        ensure_parallelism(table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            (F.col("vec_id") % 2).cast("int").alias("par"),
        )
        .localCheckpoint(eager=False)
    )
    a = e.select(
        "label",
        F.col("vec_id").alias("ida"),
        F.col("v").alias("va"),
        F.col("par").alias("pa"),
    )
    b = e.select(
        "label",
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("par").alias("pb"),
    )
    r_fp = money(
        F.sqrt(
            F.aggregate(
                F.zip_with("va", "vb", lambda x, c: (x - c) * (x - c)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        9,
    )
    pairs = (
        a.join(b, "label")
        .filter(F.col("ida") < F.col("idb"))
        .select(
            "label",
            F.when((F.col("pa") == 0) & (F.col("pb") == 0), "ee")
            .when((F.col("pa") == 1) & (F.col("pb") == 1), "oo")
            .otherwise("eo")
            .alias("pt"),
            r_fp.alias("r_fp"),
        )
    )
    agg = pairs.groupBy("label", "pt").agg(
        F.sum("r_fp").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("c"),
    )
    def pick(pt, col):
        return F.max(F.when(F.col("pt") == pt, F.col(col)))
    wide = agg.groupBy("label").agg(
        pick("eo", "s").alias("s_eo"),
        pick("eo", "c").alias("c_eo"),
        pick("ee", "s").alias("s_ee"),
        pick("ee", "c").alias("c_ee"),
        pick("oo", "s").alias("s_oo"),
        pick("oo", "c").alias("c_oo"),
    )
    mean = lambda s, c: (F.col(s).cast("double") / F.col(c)) / 1000000000.0
    return wide.select(
        "label",
        F.col("c_eo").alias("n_cross_pairs"),
        F.round(
            2.0 * mean("s_eo", "c_eo")
            - mean("s_ee", "c_ee")
            - mean("s_oo", "c_oo"),
            6,
        ).alias("energy_dist_r"),
        F.round(mean("s_eo", "c_eo"), 6).alias("mean_cross_r"),
        F.round(mean("s_ee", "c_ee"), 6).alias("mean_even_r"),
        F.round(mean("s_oo", "c_oo"), 6).alias("mean_odd_r"),
    ).orderBy("label")


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled Gonzalez farthest-point sweeps: step j computes every
    point's min distance to the chosen set and picks the argmax
    (ties → lowest vec_id)."""
    parts = ["""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), s1 AS MATERIALIZED (
  SELECT CAST(1 AS INT) AS step, vec_id, v,
         CAST(0 AS BIGINT) AS radius_fp
  FROM e WHERE vec_id = 0
)"""]
    for j in range(2, k + 1):
        parts.append(f""", d{j} AS (
  SELECT c.vec_id, c.v,
         MIN(CAST(ROUND(sqrt(list_reduce(list_transform(range(64), q ->
           (c.v[q + 1] - s.v[q + 1]) * (c.v[q + 1] - s.v[q + 1])),
           (acc, x) -> acc + x)) * 1000000000.0, 0) AS BIGINT)) AS mn_fp
  FROM e c CROSS JOIN s{j - 1} s
  WHERE c.vec_id NOT IN (SELECT vec_id FROM s{j - 1})
  GROUP BY c.vec_id, c.v
), pick{j} AS (
  SELECT CAST({j} AS INT) AS step, vec_id, v, mn_fp AS radius_fp
  FROM d{j} ORDER BY mn_fp DESC, vec_id LIMIT 1
), s{j} AS MATERIALIZED (
  SELECT step, vec_id, v, radius_fp FROM s{j - 1}
  UNION ALL
  SELECT step, vec_id, v, radius_fp FROM pick{j}
)""")
    parts.append(f"""
SELECT step, vec_id, round(radius_fp / 1000000000.0, 6) AS radius_r
FROM s{k} ORDER BY step""")
    return "".join(parts)


@query(
    "a459_kcenter_seeding",
    oracle=_kcenter_oracle(),
    tags=("similarity", "selection"),
)
def a459_kcenter_seeding(spark, sf_dir):
    """Greedy k-center (Gonzalez farthest-point) seeding — the
    2-approximation for picking k maximally-SPREAD representatives,
    the diversity complement to a439's coverage greedy (that
    maximizes what the picks contain; this maximizes how far apart
    they sit — the seeding that fixes k-means' first-8-rows codebook
    (q95) and the standard coreset/diverse-eval-set selector): start
    from vec 0, then 7 sweeps each taking every point's MIN
    fixed-point distance to the chosen set and picking the argmax with
    (radius DESC, vec_id) determinism. The radius column IS the
    covering-radius curve: radius at step k bounds every point's
    distance to its nearest center by that value — the quantity the
    2-approx guarantee speaks about. The corpus is collected once
    through ``collect_vector_panel`` (≤100k rows) and the sweeps run
    DRIVER-SIDE (the a440/a450 recipe) — the squared-diff chain adds
    term-by-term in index order, round(·,0) goes through the HALF_UP
    vector replica, and the argmax is an exact (-radius, vec_id)
    ordering. A corpus above the cap raises ValueError."""
    from ..operators.core import collect_vector_panel

    src = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    panel = collect_vector_panel(
        src, "vec_id", "v", 100_000, "a459_kcenter_seeding embeddings"
    )
    return _a459_driver_exact(spark, *panel)


def _a459_driver_exact(spark, ids, X):
    """Driver replica of the 8 Gonzalez sweeps: the per-member "+"
    distance chain replayed term-by-term in index order, HALF_UP via
    the vector replica, argmax by exact (-min_dist, vec_id). Raises
    ValueError for duplicate ids, a corpus with no vec 0 or fewer than
    8 rows, or fp terms near the int64 edge."""
    import numpy as np

    from ..functions.exact import round0_half_up_vec

    n, dim = X.shape
    if n < 8:
        raise ValueError(
            f"a459_kcenter_seeding: embeddings has {n} rows, fewer than 8"
        )
    if len(np.unique(ids)) != len(ids):
        raise ValueError(
            "a459_kcenter_seeding: embeddings has duplicate vec_ids"
        )
    zero_pos = np.nonzero(ids == 0)[0]
    if len(zero_pos) != 1:
        raise ValueError("a459_kcenter_seeding: embeddings has no vec_id 0")
    guard = float(2**62)

    def d_fp(sv):
        # first term IS the seed (the engine chain has no 0.0 seed)
        d0 = X[:, 0] - sv[0]
        acc = d0 * d0
        for q in range(1, dim):
            d = X[:, q] - sv[q]
            acc = acc + d * d
        return np.sqrt(acc) * 1000000000.0

    chosen = [(1, int(ids[zero_pos[0]]), 0)]
    taken = {int(ids[zero_pos[0]])}
    mn = None
    for j in range(2, 9):
        # incremental min: only the newest member needs a fresh sweep
        sv = X[np.nonzero(ids == chosen[-1][1])[0][0]]
        df_ = d_fp(sv)
        if np.abs(df_).max() >= guard:
            raise ValueError(
                "a459_kcenter_seeding: a fixed-point distance exceeds 2**62"
            )
        d_new = round0_half_up_vec(df_)
        mn = d_new if mn is None else np.minimum(mn, d_new)
        m = ~np.isin(ids, list(taken))
        cand_ids, cand_mn = ids[m], mn[m]
        order = np.lexsort((cand_ids, -cand_mn))
        pick = order[0]
        chosen.append((j, int(cand_ids[pick]), int(cand_mn[pick])))
        taken.add(int(cand_ids[pick]))
    out = literal_frame(
        spark,
        chosen,
        "step int, vec_id bigint, radius_fp bigint",
    )
    return out.select(
        "step",
        "vec_id",
        F.round(F.col("radius_fp") / 1000000000.0, 6).alias("radius_r"),
    ).orderBy("step")


@query(
    "a462_effective_rank",
    oracle="""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), ex AS (
  SELECT e.vec_id, CAST(d.p AS INT) AS p, e.v[d.p + 1] AS x
  FROM e CROSS JOIN (SELECT CAST(p AS INT) AS p FROM range(64) t(p)) d
), mu AS (
  SELECT p,
         CAST(ROUND(SUM(CAST(ROUND(x * 1000000000.0, 0) AS BIGINT))
                    / COUNT(*), 0) AS BIGINT) / 1000000000.0 AS m
  FROM ex GROUP BY p
), cen AS (
  SELECT ex.vec_id, ex.p, ex.x - mu.m AS x
  FROM ex JOIN mu ON mu.p = ex.p
), gram AS (
  SELECT a.p AS pa, b.p AS pb,
         CAST(SUM(CAST(ROUND(a.x * b.x * 1000.0, 0) AS BIGINT))
              AS BIGINT) AS c_milli
  FROM cen a JOIN cen b ON b.vec_id = a.vec_id
  GROUP BY a.p, b.p
), traces AS (
  SELECT CAST(SUM(CASE WHEN pa = pb THEN c_milli ELSE 0 END) AS BIGINT)
           AS tr_c,
         CAST(SUM(c_milli * c_milli) AS BIGINT) AS tr_c2
  FROM gram
), nrow AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
)
SELECT n.n, CAST(64 AS BIGINT) AS dim,
       round(t.tr_c / 1000.0, 6) AS trace_r,
       round(CAST(t.tr_c AS DOUBLE) * t.tr_c / t.tr_c2, 6)
         AS effective_rank_r,
       round(CAST(t.tr_c AS DOUBLE) * t.tr_c / t.tr_c2 / 64.0, 6)
         AS rank_ratio_r
FROM traces t CROSS JOIN nrow n
""",
    tags=("similarity", "diagnostics"),
)
def a462_effective_rank(spark, sf_dir):
    """Effective rank (participation ratio) of the embedding
    covariance — PR = tr(C)²/tr(C²) = (Σλ)²/Σλ², the full-spectrum
    dimensionality diagnostic that needs NO eigensolve: where q249's
    power iteration extracts the top eigenvalue and a124's isotropy
    audit tests the Gram identity, PR summarizes how many directions
    the embedding cloud ACTUALLY uses (64 = isotropic, ≪64 =
    rank-collapsed encoder — the classic representation-collapse
    alarm). Both traces come from the exact fixed-point Gram matrix:
    per-dimension means (q95 discipline), centered per-row products
    rounded to milli-units before the BIGINT sum (order-independent
    across 1000 executors), then tr(C²) = Σ C_pq² stays inside int64
    because the milli scale caps each entry. Plan: one d²-explode
    self-join per row — O(n·d²) work, one shuffle to the 4096-cell
    Gram — the same shape as the q106 gramian operator, feeding two
    1-row trace aggregates."""
    from ..operators.core import ensure_parallelism

    e = ensure_parallelism(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    ex = e.select("vec_id", F.posexplode("v").alias("p", "x"))
    mu = ex.groupBy("p").agg(
        (
            F.round(
                F.sum(money("x", 9))
                / F.count("*"),
                0,
            ).cast("bigint")
            / 1000000000.0
        ).alias("m")
    )
    cen = (
        ex.join(F.broadcast(mu), "p")
        .select("vec_id", "p", (F.col("x") - F.col("m")).alias("x"))
        .localCheckpoint(eager=False)
    )
    a = cen.select("vec_id", F.col("p").alias("pa"), F.col("x").alias("xa"))
    b = cen.select("vec_id", F.col("p").alias("pb"), F.col("x").alias("xb"))
    gram = (
        a.join(b, "vec_id")
        .groupBy("pa", "pb")
        .agg(F.sum(money(F.col("xa") * F.col("xb"), 3)).cast("bigint").alias("c_milli"))
    )
    traces = gram.agg(
        F.sum(F.when(F.col("pa") == F.col("pb"), F.col("c_milli")).otherwise(0))
        .cast("bigint")
        .alias("tr_c"),
        F.sum(F.col("c_milli") * F.col("c_milli"))
        .cast("bigint")
        .alias("tr_c2"),
    )
    nrow = e.agg(F.count("*").cast("bigint").alias("n"))
    pr = F.col("tr_c").cast("double") * F.col("tr_c") / F.col("tr_c2")
    return (
        traces.crossJoin(F.broadcast(nrow))
        .select(
            "n",
            F.lit(64).cast("bigint").alias("dim"),
            F.round(F.col("tr_c") / 1000.0, 6).alias("trace_r"),
            F.round(pr, 6).alias("effective_rank_r"),
            F.round(pr / 64.0, 6).alias("rank_ratio_r"),
        )
    )
