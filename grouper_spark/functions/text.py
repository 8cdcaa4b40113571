"""Text/number helpers shared by the query inventory.

``money`` exists because the correctness gate hashes float values computed
independently by Spark and DuckDB: a double SUM accumulates in a different
order in each engine, so the last bits differ and a naive ROUND(sum, 2) can
land on opposite sides of a rounding boundary. Summing *integer cents*
instead is order-independent and bit-exact in both engines; one final
division by the scale yields an identical double. Every aggregate in the
oracle-checked queries uses this pattern on both the Spark and SQL sides.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(col: Column | str, scale: int = 2) -> Column:
    """Exact fixed-point representation: round(col * 10^scale) as bigint.

    The single Spark-side fixed-point kernel, for any power of ten: cents
    at ``scale=2``, the micro/nano/pico terms at 6/9/12. Quantise through
    it, never inline. Its oracle half is ``queries._sqlgen.sql_money_*``.
    The scale is a plain float operand, not ``F.lit``: same plan, one
    py4j call fewer per site.
    """
    col = F.col(col) if isinstance(col, str) else col
    return F.round(col * float(10**scale), 0).cast("bigint")


def money_sum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """Order-independent double SUM: sum integer units, divide once."""
    return (F.sum(money(col, scale)) / float(10**scale)).alias(alias)


def money_units(col: str, div: int, scale: int = 2) -> Column:
    """Whole-unit SUM: the exact ``money(col, scale)`` sum, integer-divided
    once by ``div`` (cents to dollars at 100, to hundreds at 10000).
    Sub-unit parts of different rows add up before the division, so
    0.60 + 0.45 gives 1 where truncating each row would give 0. ``col``
    is SQL text; the DuckDB oracles spell the same sum with ``//``.
    """
    s = 10**scale
    return F.expr(
        f"CAST(SUM(CAST(ROUND({col} * {s}.0, 0) AS BIGINT)) div {div} AS BIGINT)"
    )


def money_avg(col: Column | str, alias: str, scale: int = 4) -> Column:
    """Order-independent AVG derived from the integer-unit sum."""
    c = money(col, scale)
    return (F.sum(c) / float(10**scale) / F.count(c)).alias(alias)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty string → empty array (not [''])."""
    col = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.trim(col), r"\s+"), "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def word_ngrams(toks: Column | str, n: int) -> Column:
    """All n-word grams of a token-array column, in order, repeats kept.

    For w tokens this yields max(w-n+1, 0) grams. The token array is
    bound ONCE to a lambda variable (``transform`` over a one-element
    array): HOF lambdas are interpreted with no common-subexpression
    cache, so a lambda body that referenced the outer token expression
    would re-run ``split`` per gram — O(w²) per row. Inside the binding
    the grams are ``arrays_zip`` of n offset ``slice``s and one
    ``concat_ws`` per position: O(w·n).
    """
    toks = F.col(toks) if isinstance(toks, str) else toks

    def grams(t: Column) -> Column:
        k = F.size(t) - F.lit(n - 1)
        zipped = F.arrays_zip(*[F.slice(t, i + 1, k) for i in range(n)])
        # slice rejects a negative length; guard k < 1 explicitly.
        return F.when(k < 1, F.array().cast("array<string>")).otherwise(
            F.transform(
                zipped, lambda g: F.concat_ws(" ", *[g[str(i)] for i in range(n)])
            )
        )

    return F.transform(F.array(toks), grams)[0]


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column, as an array<string>.

    ``word_ngrams`` over ``tokens`` — linear in the word count. The
    array HOFs run interpreted (CodegenFallback), not in whole-stage
    codegen. For a text of w words this yields max(w-n+1, 0) shingles,
    deduplicated.
    """
    return F.array_distinct(word_ngrams(tokens(col), n))


def md5_bits(col: Column | str, digits: int, start: int = 1) -> Column:
    """``digits`` hex digits of md5(col) from position ``start``, as a
    bigint — the cross-engine hash contract. The DuckDB oracles spell
    the same value ``CAST(conv(substring(md5(x), start, digits), 16,
    10) AS BIGINT)``; up to 15 digits (60 bits) fit a signed bigint."""
    return F.conv(F.substring(F.md5(col), start, digits), 16, 10).cast("bigint")
