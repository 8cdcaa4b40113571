"""Arrow-batched Python UDF paths — the sanctioned escape hatch when
built-ins can't express the computation (reference analogue: proc-fn as
the user's batch function, core.clj:68-83).

Both queries keep the Python-side arithmetic integer-exact so they can
carry full DuckDB oracles: proof that the vectorized UDF path preserves
engine correctness, not just the codegen path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.text import money
from ..sources import table
from . import query


@query(
    "q50_applyinpandas_grouped",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS total_cents,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    tags=("udf",),
)
def q50_applyinpandas_grouped(spark, sf_dir):
    """Grouped-map Pandas UDF (applyInPandas): per-user aggregation done
    in pandas over Arrow batches. Cent conversion happens Spark-side so
    the pandas sum is int64-exact; shuffle is one hash partition on the
    group key, same as a native groupBy."""
    e = table(spark, sf_dir, "events").select(
        "user_id", money("value").alias("cents"), "value"
    )

    def agg_user(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(pdf)],
                "total_cents": [pdf["cents"].sum()],
                "max_value": [pdf["value"].max()],
            }
        )

    out = e.groupBy("user_id").applyInPandas(
        agg_user,
        schema="user_id long, n_events long, total_cents long, max_value double",
    )
    return out.orderBy("user_id")


@query(
    "q51_pandas_scalar_udf",
    oracle="""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens_udf,
       length(trim(text)) AS trimmed_len
FROM documents
ORDER BY doc_id
""",
    tags=("udf", "text"),
)
def q51_pandas_scalar_udf(spark, sf_dir):
    """Scalar Pandas UDF (@pandas_udf): vectorized token counting over
    Arrow batches — the 10-100x-over-row-UDF path for logic that truly
    needs Python."""

    @pandas_udf("int")
    def token_count_pd(texts: pd.Series) -> pd.Series:
        return texts.str.split().str.len().astype("int32")

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_pd("text").alias("n_tokens_udf"),
        F.length(F.trim("text")).alias("trimmed_len"),
    ).orderBy("doc_id")


@query(
    "q92_batch_inference",
    oracle="""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(1.0 / (1.0 + exp(-(0.05 * n_tokens - 2.0))), 6) AS score
FROM t
ORDER BY doc_id
""",
    tags=("udf", "curation"),
)
def q92_batch_inference(spark, sf_dir):
    """Batch-inference plumbing: iterator-of-batches mapInPandas where the
    "model" loads ONCE per partition and scores every Arrow batch — the
    shape a real cross-encoder / classifier inference job needs (model
    load amortized across batches, never per row or per batch). The stub
    model is a deterministic logistic scorer so the whole path carries an
    exact SQL oracle; swap `_load_model` for a torch checkpoint and the
    Spark plumbing is unchanged."""
    import numpy as np

    from ..functions.text import token_count

    d = table(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )

    def infer(batches):
        # per-partition init: a real implementation loads weights here
        def _load_model():
            return 0.05, -2.0  # STUB weights — replace with a checkpoint

        w, b = _load_model()
        for pdf in batches:
            z = w * pdf["n_tokens"].to_numpy(dtype="float64") + b
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pdf["n_tokens"],
                    "score": np.round(1.0 / (1.0 + np.exp(-z)), 6),
                }
            )

    out = d.mapInPandas(infer, "doc_id long, n_tokens long, score double")
    return out.orderBy("doc_id")


@query(
    "q193_python_udtf",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
           AS toks
  FROM documents
  WHERE doc_id < 10
), ex AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks))) - 1 AS pos,
         unnest(toks) AS tok
  FROM t
)
SELECT doc_id, CAST(pos AS INT) AS pos, tok,
       CAST(length(tok) AS INT) AS tok_len,
       CAST(pos % 2 = 0 AS INT) AS is_even_pos
FROM ex
ORDER BY doc_id, pos
""",
    tags=("udf", "udtf"),
)
def q193_python_udtf(spark, sf_dir):
    """Python user-defined TABLE function (Spark 4 UDTF surface): a
    tokenizer UDTF emits (pos, tok, tok_len, is_even_pos) rows per
    document via LATERAL join — the row-expanding UDF shape (one input
    row → many output rows) that scalar and grouped-map UDFs can't
    express. The UDTF runs per-partition in a single Python worker
    pass; it exists to exercise the API surface — the equivalent
    posexplode plan (q79) stays JVM-side and is what you'd ship when
    the logic fits built-ins, which is exactly what the shared oracle
    proves."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="pos int, tok string, tok_len int, is_even_pos int")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            toks = [t for t in text.strip().split() if t]
            for pos, tok in enumerate(toks):
                yield pos, tok, len(tok), int(pos % 2 == 0)

    spark.udtf.register("q193_tokenize", Tokenize)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    d.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.tok, t.tok_len, t.is_even_pos
        FROM udtf_docs d, LATERAL q193_tokenize(d.text) t
        ORDER BY d.doc_id, t.pos
        """
    )


@query(
    "q201_cogroup_reconcile",
    oracle="""
WITH o AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT) AS ord_cents
  FROM orders WHERE o_orderkey < 500
), l AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100.0, 0) AS BIGINT))
              AS BIGINT) AS line_cents,
         CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem WHERE l_orderkey < 500
  GROUP BY l_orderkey
)
SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS o_orderkey,
       o.ord_cents,
       CAST(COALESCE(l.line_cents, 0) AS BIGINT) AS line_cents,
       CAST(COALESCE(l.n_lines, 0) AS BIGINT) AS n_lines,
       o.ord_cents - COALESCE(l.line_cents, 0) AS diff_cents
FROM o FULL OUTER JOIN l ON o.o_orderkey = l.l_orderkey
ORDER BY o_orderkey
""",
    tags=("udf", "join"),
)
def q201_cogroup_reconcile(spark, sf_dir):
    """Cogrouped ``applyInPandas`` — Spark's two-sided Arrow batch UDF
    surface: orders and their lineitems are co-partitioned on the order
    key and handed to ONE pandas function per key as two aligned frames
    (the reconciliation shape: header total vs sum of lines). Keys
    present on either side still produce a row (full-outer cogroup
    semantics), matching the oracle's FULL OUTER formulation. Scale:
    one co-shuffle on the key, Arrow-batched transfer, and the pandas
    body is per-key bounded — the documented pattern for custom
    two-input per-key logic Catalyst can't express."""
    cents = lambda c: money(F.col(c))  # noqa: E731
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", cents("o_totalprice").alias("ord_cents"))
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 500)
        .select("l_orderkey", cents("l_extendedprice").alias("line_cents"))
    )

    def recon(key, odf: pd.DataFrame, ldf: pd.DataFrame) -> pd.DataFrame:
        ord_cents = int(odf["ord_cents"].iloc[0]) if len(odf) else None
        line_cents = int(ldf["line_cents"].sum()) if len(ldf) else 0
        return pd.DataFrame(
            [
                {
                    "o_orderkey": int(key[0]),
                    "ord_cents": ord_cents,
                    "line_cents": line_cents,
                    "n_lines": len(ldf),
                    "diff_cents": (
                        ord_cents - line_cents if ord_cents is not None else None
                    ),
                }
            ]
        )

    out = (
        o.groupby("o_orderkey")
        .cogroup(li.groupby("l_orderkey"))
        .applyInPandas(
            recon,
            schema=(
                "o_orderkey long, ord_cents long, line_cents long, "
                "n_lines long, diff_cents long"
            ),
        )
    )
    return out.orderBy("o_orderkey")


@query(
    "q205_grouped_agg_udf",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       round(exp(CAST(SUM(CAST(ROUND(ln(CAST(ROUND(o_totalprice * 100.0, 0)
                                          AS BIGINT)) * 1000000.0, 0)
                               AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*)), 2) AS geomean_cents_r
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("udf", "agg"),
)
def q205_grouped_agg_udf(spark, sf_dir):
    """GROUPED_AGG pandas UDF — the vectorized custom-aggregate surface
    (one Arrow batch of group values in, one scalar out), here a
    geometric mean of order value. The UDF accumulates per-value
    ln() fixed-pointed to integer micro-units and sums in int64, so the
    aggregate is order-independent and engine-exact despite the
    distributed group partitioning; the single exp() runs on the exact
    integer sum. Composes with built-in aggregates in the same
    groupBy().agg() call (count rides along)."""
    import numpy as np

    @pandas_udf("double")
    def ln_micro_sum(v: pd.Series) -> float:
        ln = np.log(v.to_numpy(dtype=np.float64))
        return float(np.round(ln * 1e6).astype(np.int64).sum())

    # GROUPED_AGG UDFs cannot mix with built-in aggregates in one agg();
    # the count therefore also runs as a (trivial) pandas aggregate
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    orders = table(spark, sf_dir, "orders")
    cents = money("o_totalprice")
    return (
        orders.select("o_orderpriority", cents.alias("cents"))
        .groupBy("o_orderpriority")
        .agg(
            n_rows("cents").alias("n_orders"),
            F.round(
                F.exp(ln_micro_sum("cents") / 1e6 / n_rows("cents")), 2
            ).alias("geomean_cents_r"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q206_mapinarrow_kernel",
    oracle="""
SELECT l_linenumber,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100.0, 0)
                     AS BIGINT)) AS BIGINT) AS net_cents
FROM lineitem
GROUP BY l_linenumber
ORDER BY l_linenumber
""",
    tags=("udf", "arrow"),
)
def q206_mapinarrow_kernel(spark, sf_dir):
    """``mapInArrow`` — the zero-copy RecordBatch UDF surface: each
    Arrow batch is transformed with pyarrow.compute kernels (no pandas
    materialization, no per-row Python). The kernel emits integer net
    cents per row (round mode pinned to half-away-from-zero to match
    SQL ROUND); Spark then aggregates the kernel output with ordinary
    built-ins — the hybrid shape for custom columnar math feeding a
    relational tail. Scale: kernel cost is linear per batch, pipeline
    stays Arrow end-to-end, one group exchange."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for b in batches:
            net = pc.multiply(
                pc.multiply(
                    b.column("l_extendedprice"),
                    pc.subtract(pa.scalar(1.0), b.column("l_discount")),
                ),
                pa.scalar(100.0),
            )
            cents = pc.cast(
                pc.round(net, ndigits=0, round_mode="half_towards_infinity"),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_linenumber"), cents], ["l_linenumber", "net_cents"]
            )

    li = table(spark, sf_dir, "lineitem").select(
        "l_linenumber", "l_extendedprice", "l_discount"
    )
    out = li.mapInArrow(kernel, "l_linenumber int, net_cents long")
    return (
        out.groupBy("l_linenumber")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("net_cents").cast("bigint").alias("net_cents"),
        )
        .orderBy("l_linenumber")
    )


@query(
    "a383_apply_in_arrow",
    oracle="""
SELECT o_orderpriority AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS cents,
       CAST(MIN(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS min_cents,
       CAST(MAX(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))
            AS BIGINT) AS max_cents
FROM orders
GROUP BY grp
ORDER BY grp
""",
    tags=("udf", "arrow"),
)
def a383_apply_in_arrow(spark, sf_dir):
    """Grouped ``applyInArrow`` — the zero-pandas grouped batch UDF
    (Spark 4): each group arrives as a pyarrow.Table and the kernel
    answers with a pyarrow.Table, so custom per-group logic runs on
    Arrow buffers with no pandas materialization (the cheapest Python
    hop there is; q201/q205 are the pandas-frame cousins, q206 the
    ungrouped map twin). The kernel computes count/sum/min/max over
    integer cents with pyarrow.compute — exact, so the plain SQL
    aggregate is the oracle. One shuffle on the group key; Arrow
    batches bound per-group memory."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = table(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderpriority",
        money("o_totalprice").alias("cents"),
    )

    # NOTE: no type annotations — pyspark inspects applyInArrow
    # function hints to infer the eval type, and unresolvable string
    # annotations crash that inference (UnboundLocalError: eval_type).
    def kernel(key, tbl):
        c = tbl.column("cents")
        return pa.table(
            {
                "grp": pa.array([key[0]], pa.string()),
                "n_orders": pa.array([tbl.num_rows], pa.int64()),
                "cents": pa.array([pc.sum(c).as_py()], pa.int64()),
                "min_cents": pa.array([pc.min(c).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(c).as_py()], pa.int64()),
            }
        )

    return (
        cents.groupBy("o_orderpriority")
        .applyInArrow(
            kernel,
            schema=(
                "grp string, n_orders bigint, cents bigint, "
                "min_cents bigint, max_cents bigint"
            ),
        )
        .orderBy("grp")
    )


@query(
    "a430_scalar_iter_udf",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+[0-9]+'))) AS BIGINT)
         AS n_alnum_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
    tags=("udf", "text"),
)
def a430_scalar_iter_udf(spark, sf_dir):
    """Iterator-of-Series scalar Pandas UDF — the SCALAR_ITER eval
    type that completes the Python-UDF surface (q51 covers
    series→series, q92 mapInPandas, q205 grouped-agg, q201 cogroup,
    q206/a383 Arrow): the iterator form exists precisely to amortize
    EXPENSIVE per-worker setup (model load, regex compilation, GPU
    context) ONCE across all Arrow batches of a partition instead of
    once per batch — the difference between paying initialization
    n_batches times and once, which at 100 TB batch counts is the
    whole inference bill. Here the amortized state is a compiled
    regex counting letter+digit tokens; the oracle is DuckDB's
    regexp_extract_all of the same pattern, so the hash certifies the
    Python path against a pure-SQL reimplementation. Folded per
    source to keep the checked output compact."""
    from collections.abc import Iterator
    import re

    def _alnum(batches):
        pat = re.compile(r"[a-z]+[0-9]+")  # compiled once per worker
        for texts in batches:
            yield texts.map(lambda t: len(pat.findall(t))).astype("int64")

    # real type objects (the module's postponed annotations would leave
    # pyspark's hint inspection with unresolvable strings)
    _alnum.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    alnum_count = pandas_udf(_alnum, "long")

    d = table(spark, sf_dir, "documents")
    from ..operators.core import ensure_parallelism

    return (
        ensure_parallelism(d)
        .select("source", alnum_count("text").alias("c"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("c").cast("bigint").alias("n_alnum_tokens"),
        )
        .orderBy("source")
    )
