"""Vector math over ``array<float>`` columns — pure JVM-side expressions.

All of these are Catalyst higher-order functions (``zip_with`` /
``aggregate`` / ``transform``) with zero Python/serialization cost.
HOF *lambdas* are interpreted (no whole-stage codegen), but one O(d)
fold per row is the FAST shape for array⊗array arithmetic: an unrolled
64-term ``element_at`` chain was A/B-measured 4× slower on the q53
pair stage (these projections sit above BroadcastNestedLoopJoin,
outside codegen, where 128 interpreted element_at calls lose to one
fold loop — the a381/a459 unroll wins are literal-COEFFICIENT chains
inside codegen, a different class). This is the hot path for
similarity search over embedding columns; a Pandas-UDF variant would
move every vector through Arrow for no gain at these dimensions
(64–4096).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length float arrays (accumulated in double)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; zero vectors get 0.0 (not a divide-by-zero —
    ANSI mode is on, so an unguarded /0 would fail the whole stage)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def l2_normalize(a: Column | str) -> Column:
    """Scale a vector to unit L2 norm (pre-normalization turns cosine top-k
    into dot-product top-k — one aggregate per pair instead of three).
    Zero vectors pass through unchanged (guarded divisor, ANSI-safe).

    The divisor is materialized ONCE per row through ``array_repeat``
    before the element loop: a ``transform`` whose lambda references the
    norm would re-evaluate the full norm aggregate per ELEMENT (the
    divisor subtree is inlined into the lambda body and HOF evaluation
    has no common-subexpression cache), costing O(d²) interpreted ops
    per row — measured as the dominant term of every normalize-the-
    corpus query. ``zip_with`` against the repeated-divisor array is
    O(d) and divides by the identical double, so results are
    bit-identical."""
    a = F.col(a) if isinstance(a, str) else a
    n = l2_norm(a)
    safe = F.when(n == 0, F.lit(1.0)).otherwise(n)
    return F.zip_with(
        a, F.array_repeat(safe, F.size(a)), lambda x, nn: x.cast("double") / nn
    )


def unit_fixed(a: Column | str, scale: float) -> Column:
    """Fixed-point unit vector: ``round(scale·x / ‖a‖)`` per element, as
    bigint. The norm is materialized once per row through
    ``array_repeat`` — O(d), the ``l2_normalize`` shape — and each
    element computes ``(scale·x)/n`` in that order, so the integers are
    bit-identical to the inline per-element formula. No zero-norm guard:
    callers quantize non-zero embeddings."""
    a = F.col(a) if isinstance(a, str) else a
    return F.zip_with(
        a,
        F.array_repeat(l2_norm(a), F.size(a)),
        lambda x, n: F.round(scale * x / n, 0).cast("bigint"),
    )


def sql_double(x: float) -> str:
    """Spark SQL text for the exact double ``x``: ``CAST('<repr>' AS DOUBLE)``.

    For the ``F.expr`` builders that embed plane/centroid constants: the
    shortest round-trip repr parses back to the same double, and going
    through ``float()`` first keeps a numpy scalar from rendering as
    ``np.float64(...)``."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"
