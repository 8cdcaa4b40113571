"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring what a 100 TB corpus needs:

- ``ann_topk_bruteforce``: exact top-k. The *query* side is broadcast
  (queries are small by definition); the corpus is never shuffled — each
  scan partition scores its rows against the broadcast queries and a
  window top-k reduces. Cost: one corpus scan per query batch. This is
  the correctness oracle and is the right plan whenever |queries| is
  small, even at full scale.

- ``lsh_bucket_ann``: random-hyperplane (SimHash-for-vectors) LSH. Corpus
  rows hash to sign-pattern buckets once (a cheap map-side pass that can
  be precomputed/persisted); queries probe only matching buckets via an
  equi-join on the bucket key, then exact-rerank inside the bucket. At
  scale this replaces the corpus-wide scan with a bucket-local one
  (recall < 1, tunable via ``num_planes``/multi-probe).

All vector math is Catalyst higher-order functions — no Python UDFs.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import money
from ..functions.vector import cosine_similarity, dot, l2_normalize, sql_double
from .core import ensure_parallelism


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, window top-k.

    Returns ``(query_id, neighbor_id, cosine)`` with deterministic
    tie-breaking on neighbor id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), l2_normalize(vec_col).alias("__qv")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), l2_normalize(vec_col).alias("__cv")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", dot("__qv", "__cv").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def random_hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes (seeded PRNG, embedded as literals)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(num_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def _bucket_col(vec_col: str, planes: list[list[float]]):
    """Sign-pattern bucket id of a vector against fixed hyperplanes.

    ONE F.expr SQL string instead of planes × dim ``F.lit`` py4j calls
    (the a381/q240 plan-construction lesson): each plane dot parses to
    the identical aggregate/zip_with tree ``dot()`` built — same
    double literals via round-trip repr, same fold order, identical
    sign bits. ``vec_col`` is the vector column NAME (backtick-quoted,
    so any legal name parses). A vector whose width differs from the
    planes' raises: ``zip_with`` would NULL-pad the shorter side, every
    dot would fold to NULL and the whole corpus would land in one
    bucket."""
    v = "`" + vec_col.replace("`", "``") + "`"
    dim = len(planes[0])
    terms = " + ".join(
        "(CASE WHEN aggregate(zip_with("
        + v
        + ", array("
        + ", ".join(sql_double(x) for x in p)
        + "), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) >= 0"
        f" THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return F.expr(
        f"CASE WHEN size({v}) != {dim} THEN raise_error(concat("
        f"'lsh bucket: vector width ', size({v}), ' != plane width {dim}'))"
        f" ELSE CAST(0 AS BIGINT) + {terms} END"
    )


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) coarse quantizer.

    Structure mirrors FAISS IVF-Flat: ``n_cells`` centroids partition the
    corpus into cells (argmax cosine against the centroid set); each query
    probes its ``n_probe`` nearest cells and exact-reranks only inside
    them. Centroids here are a deterministic hash-ordered sample of the
    corpus (no iterative training — at 100 TB you'd train k-means on a
    sample offline and broadcast the codebook exactly the same way; the
    query-time plan is identical).

    The cell assignment is a map-side pass (the codebook ships inside the
    UDF closure = an implicit broadcast); the probe is an equi-join on
    ``cell`` with the query side broadcast. Corpus is never shuffled.
    Returns ``(query_id, neighbor_id, cosine)``.
    """
    # Deterministic "codebook": sample n_cells corpus vectors in xxhash64
    # order (seeded, stable across runs), driver-collects only n_cells rows.
    cent_rows = (
        corpus.select(F.col(id_col).alias("i"), l2_normalize(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i").cast("string")), F.col("i"))
        .limit(n_cells)
        .collect()
    )
    mat = np.array([list(r["v"]) for r in cent_rows], dtype=np.float64).T  # dim×cells
    n_cells = mat.shape[1]
    n_probe = min(n_probe, n_cells)

    # Quantizer = Arrow-batched numpy matmul (N×dim @ dim×cells), not
    # Catalyst higher-order functions: HOF lambdas are interpreted (no
    # whole-stage codegen), so 16 embedded-literal dot products per row
    # run ~50× slower than one vectorized BLAS call per Arrow batch.
    def _sims(v: pd.Series) -> np.ndarray:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return (m / norms) @ mat

    @F.pandas_udf("int")
    def _cell_of(v: pd.Series) -> pd.Series:
        # argmax ties resolve to the lowest index — deterministic
        return pd.Series(_sims(v).argmax(axis=1).astype("int32"))

    # The equi-join on `cell` derives an isnotnull(cell) filter that the
    # optimizer pushes below the repartition exchange, DUPLICATING the
    # UDF: every corpus row paid _cell_of (and the Arrow round-trip of
    # its embedding) twice — two ArrowEvalPython nodes in the plan.
    # Marking the (actually deterministic) UDF non-deterministic fences
    # the pushdown so it evaluates once; _cell_of never returns null,
    # so the filter's placement cannot change the join result.
    _cell_of = _cell_of.asNondeterministic()

    @F.pandas_udf("array<int>")
    def _probes_of(v: pd.Series) -> pd.Series:
        idx = np.argsort(-_sims(v), kind="stable", axis=1)[:, :n_probe]
        return pd.Series(list(idx.astype("int32")))

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        l2_normalize(vec_col).alias("__cv"),
        _cell_of(vec_col).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        l2_normalize(vec_col).alias("__qv"),
        F.explode(_probes_of(vec_col)).alias("cell"),
    )
    pairs = c.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", dot("__qv", "__cv").alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def lsh_neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_pairs: int = 20,
    num_bands: int = 16,
    band_planes: int | None = 2,
    seed: int = 42,
    max_bucket: int | None = None,
    target_bucket: int = 8,
    n_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Corpus-scale embedding near-dup: banded random-hyperplane LSH
    candidate generation + exact cosine rerank. Never materializes
    O(n²) — the 100 TB replacement for the all-pairs crossJoin.

    Structure:
      1. One Arrow-batched numpy pass computes all ``num_bands`` sign-
         pattern bucket ids per row (N×dim @ dim×(bands·planes) matmul —
         measured ~3× faster than embedded-literal Catalyst dots, and
         HOF lambdas are interpreted, so this is the fast path).
      2. Posting-list expansion per (band, bucket): groupBy → sorted
         collect_list → pair explode (a < b) → distinct. The bucket
         pipeline is computed once (no self-join double-execution).
      3. Exact rerank: candidate ids equi-join back to the normalized
         corpus twice, dot product, global top-``top_pairs``.

    Recall is 1-(1-p^band_planes)^num_bands for a pair with angular
    collision probability p — tune bands/planes to the similarity floor
    you care about. ``max_bucket`` drops pathological buckets (all-equal
    vectors at corpus scale) the same way the shingle df-cap does.

    ``band_planes=None`` engages the scaling law that keeps candidate
    volume LINEAR in corpus size: planes per band grows with log2(n) so
    the expected random-collision bucket size stays ~``target_bucket``
    regardless of n (at 100 TB / ~1e8 vectors that is ~24 planes). Per-
    band match probability for a pair at cosine c is p^planes with
    p = 1 - arccos(c)/π, so adaptive planes only suit a true NEAR-DUP
    floor where p^24 stays large: at c = 0.996 (p ≈ 0.9715) the 24-plane
    band matches with p^24 ≈ 0.50 and the 16-band miss is
    (1-0.50)^16 ≈ 1.5e-5 at 1e8 rows; the miss drops below 1e-6 only
    for c ≥ ~0.9975 (p ≥ ~0.9774). A random pair (p≈0.5) collides with
    probability 2^-planes ≈ 8/n.

    ``n_rows``/``dim`` let the caller pass corpus cardinality and vector
    dimension when it already knows them (or can derive both in one
    cheap aggregate) — otherwise this function runs one count and one
    first() job against ``corpus``, which for a derived corpus (e.g.
    q83's generator-expanded twins) re-executes its lineage.
    Returns ``(vec_a, vec_b, cosine)``.
    """
    if dim is None:
        dim = 64
        first = corpus.select(F.size(vec_col).alias("d")).first()
        if first is not None:
            dim = first["d"]
    if band_planes is None:
        n = n_rows if n_rows is not None else corpus.count()
        band_planes = max(8, math.ceil(math.log2(max(n, 2) / target_bucket)))
    n_planes = num_bands * band_planes
    mat = np.array(
        random_hyperplanes(dim, n_planes, seed), dtype=np.float64
    ).T  # dim × (bands·planes)
    pows = (2 ** np.arange(band_planes, dtype=np.int64))[None, :]

    @F.pandas_udf("array<long>")
    def _band_buckets(v: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        signs = (m @ mat >= 0).astype(np.int64)  # N × n_planes
        bands = signs.reshape(len(m), num_bands, band_planes)
        buckets = (bands * pows).sum(axis=2)  # N × num_bands
        return pd.Series(list(buckets))

    hashed = ensure_parallelism(corpus).select(
        F.col(id_col).alias("__id"),
        F.posexplode(_band_buckets(vec_col)).alias("band", "bucket"),
    )
    posting = hashed.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("__id")).alias("ids")
    )
    posting = posting.filter(F.size("ids") >= 2)
    if max_bucket is not None:
        posting = posting.filter(F.size("ids") <= max_bucket)
    # The posting table has only bands×buckets rows, so without a
    # redistribution the quadratic pair explode would run in as few
    # tasks as there are posting rows. Repartition the SMALL posting
    # table (a user repartition — exempt from AQE coalescing), then
    # double-explode in place: ids is sorted, so slicing past the first
    # explode's position emits exactly the a < b half, and no id-array
    # ever rides a shuffle (the old per-member repartition moved
    # |bucket|-sized arrays once per member — ~1 GB at 2k vectors).
    cand = (
        posting.repartition(
            corpus.sparkSession.sparkContext.defaultParallelism
        )
        .select(F.posexplode("ids").alias("pos", "vec_a"), "ids")
        .select(
            "vec_a",
            F.explode(
                F.slice(
                    "ids",
                    F.col("pos") + F.lit(2),
                    F.greatest(F.size("ids") - F.col("pos") - 1, F.lit(0)),
                )
            ).alias("vec_b"),
        )
        .distinct()
    )
    norm = corpus.select(
        F.col(id_col).alias("__nid"), l2_normalize(vec_col).alias("__nv")
    )
    scored = (
        cand.join(norm, cand["vec_a"] == norm["__nid"])
        .select("vec_a", "vec_b", F.col("__nv").alias("__va"))
        .join(norm, F.col("vec_b") == norm["__nid"])
        .select("vec_a", "vec_b", dot("__va", "__nv").alias("cosine"))
    )
    # Top-N cutoff on the 6-dp ROUNDED cosine (ids as tie-break), matching
    # how oracles rank: raw-float ordering would let a 1-ulp cross-engine
    # difference pick a different pair at the limit boundary.
    return scored.orderBy(
        F.round("cosine", 6).desc(), "vec_a", "vec_b"
    ).limit(top_pairs)


def lsh_bucket_ann(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane bucketing.

    Equi-join on the bucket id (plus same-bucket exact rerank); recall
    depends on ``num_planes`` (fewer planes -> bigger buckets -> higher
    recall, more compute). ``dim`` skips the one-row dim probe when
    the caller already knows the vector dimension (the q83/a191
    parameter path — for a derived corpus the probe re-executes its
    lineage). Returns ``(query_id, neighbor_id, cosine)``.
    """
    if dim is None:
        dim = 64  # fallback if the probe finds an empty corpus
        first = corpus.select(F.size(vec_col).alias("d")).first()
        if first is not None:
            dim = first["d"]
    planes = random_hyperplanes(dim, num_planes, seed)
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _bucket_col(vec_col, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _bucket_col(vec_col, planes).alias("bucket"),
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity("__qv", "__cv").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def arrow_l2_norms(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector L2 norms via ``mapInArrow`` — the zero-copy batch path
    for numeric kernels: each Arrow RecordBatch's list column is viewed
    as one flat numpy buffer (no pandas materialization, no per-row
    Python), the segmented square-sum runs vectorized over the whole
    batch, and only ``(id, dim, norm_fp)`` scalars come back. This is
    the plumbing shape for any custom numeric kernel Spark lacks: at
    100 TB the per-partition cost is one Arrow view + one numpy pass.

    Emits fixed-point ``norm_fp`` (micro-units) so downstream
    comparisons are exact integers across engines.
    """
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            ids = b.column(0)
            lists = b.column(1)
            flat = lists.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            offs = lists.offsets.to_numpy()
            offs = (offs - offs[0]).astype(np.int64)
            dim = np.diff(offs)
            sq = flat * flat
            if len(dim) and len(sq):
                # reduceat quirks: a start index == len(sq) (empty list at
                # the batch tail) raises, and an empty segment yields
                # sq[start] instead of 0 — clip the starts and zero the
                # empty segments afterwards
                starts = np.minimum(offs[:-1], len(sq) - 1)
                sums = np.add.reduceat(sq, starts)
                sums = np.where(dim == 0, 0.0, sums)
            else:
                sums = np.zeros(len(dim))
            norm_fp = np.round(np.sqrt(sums) * 1e6).astype(np.int64)
            yield pa.record_batch(
                [ids, pa.array(dim.astype(np.int32)), pa.array(norm_fp)],
                names=["id", "dim", "norm_fp"],
            )

    src = df.select(F.col(id_col), F.col(vec_col))
    return src.mapInArrow(kernel, schema="id long, dim int, norm_fp long")


def tfidf_knn(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    query_max_id: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine k-nearest-neighbors via a posting-list
    equi-join on the token — the sparse-matrix product A·Aᵀ restricted
    to nonzero-overlap pairs, never doc × doc.

    ``max_df`` is the scale guard: a stop token appearing in ``d`` docs
    generates O(d²) candidate pairs in the token join, so on real web
    text ("the" ≈ every doc) the uncapped general path is quadratic in
    the corpus. Tokens with document frequency > ``max_df`` are dropped
    from the weight table BEFORE the join (zero extra shuffles — the cap
    rides the existing per-token idf aggregate). Their idf is near zero,
    so dropping them barely moves cosines; norms consistently exclude
    them on both sides of every pair (same convention as
    ``shingle_jaccard_pairs``'s max_df).

    ``query_max_id`` restricts the query side (doc_a) BELOW the
    aggregate so candidate fan-out is query×corpus, not corpus².
    Weights are fixed-pointed (tf × micro-idf as BIGINT) so dot and
    norm aggregations are order-independent and engine-exact.
    """
    from ..functions.text import tokens

    d = ensure_parallelism(docs)
    tok = d.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    # n_docs rides the DAG as a broadcast 1-row aggregate instead of a
    # separate driver count() job (one fewer action + document scan;
    # same double — the literal was float(count), this is the count
    # cast to double before the identical division). Attached via a
    # constant-key EQUI-join (BroadcastHashJoin), not crossJoin — a
    # BNLJ here would trip the all-pairs plan lint this query carries.
    nd = d.agg(F.count("*").cast("double").alias("__nd")).withColumn(
        "__k", F.lit(1)
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("df"))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(nd), "__k")
        .select(
            "tok",
            "df",
            money(F.log(F.col("__nd") / F.col("df").cast("double")), 6)
            .alias("idf_micro"),
        )
    )
    if max_df is not None:
        idf = idf.filter(F.col("df") <= max_df)
    w = (
        tf.join(idf.drop("df"), "tok")
        .select("doc_id", "tok", (F.col("tf") * F.col("idf_micro")).alias("wm"))
        .localCheckpoint(eager=False)  # reused by norms + both join sides
    )
    norm2 = w.groupBy("doc_id").agg(F.sum(F.col("wm") * F.col("wm")).alias("n2"))
    a = w.select(F.col("doc_id").alias("doc_a"), "tok", F.col("wm").alias("wa"))
    if query_max_id is not None:
        # Pushed below the aggregate into the join input: candidates are
        # query×corpus, linear in the corpus.
        a = a.filter(F.col("doc_a") < query_max_id)
    b = w.select(F.col("doc_id").alias("doc_b"), "tok", F.col("wm").alias("wb"))
    dots = (
        a.join(b, "tok")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norm2.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    if query_max_id is not None:
        na = na.filter(F.col("doc_a") < query_max_id)
    nb = norm2.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    # Broadcast the query-side norms only when the query set is bounded;
    # in all-pairs mode norm2 is corpus-sized (one row per doc) and must
    # shuffle-join like any fact table.
    if query_max_id is not None:
        na = F.broadcast(na)
    scored = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na2").cast("double"))
                / F.sqrt(F.col("nb2").cast("double")),
                4,
            ).alias("cosine_r"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_a").orderBy(F.col("cosine_r").desc(), "doc_b")
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= k)
        .select("doc_a", F.col("rk").cast("int").alias("rk"), "doc_b", "cosine_r")
        .orderBy("doc_a", "rk")
    )
