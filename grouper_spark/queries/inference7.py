"""Round-10 battery extension 3 (a593, a595, a598): the Ramsey RESET
functional-form test, Lempel–Ziv (LZ76) sequence complexity, and a
phonetic (simplified-Soundex) blocking-efficiency audit for entity
resolution.

(The tranche originally also drafted Durbin–Watson, Breusch–Godfrey,
Cox–Stuart, energy-distance, and tail-dependence operators; all five
were excised pre-registration as duplicates of the existing a479 /
a508 / a504 / a455 / a137 — the r5 "grep the REGISTRY, not SURVEY
keywords" lesson, which now also covers Unicode en-dash names.)

Shared design rules (the monitoring.py / inference6.py discipline):
ONE map-side combined aggregate folds the corpus to a keyed summary
panel (per-type daily counts or the part vocabulary); every cross-row
sum is an exact BIGINT; scalar double algebra runs only on identical
exact inputs through identical expression text, feeding a terminal
``round(x, 6)`` or a raw BIGINT/BIGINT ratio (one IEEE division,
bit-identical cross-engine — the a452 pattern). Iterative parses
(LZ76) fold with ``F.aggregate`` in Spark while the oracle steps the
SAME per-step expressions through a recursive CTE (the a585 Viterbi
recipe).

Overflow budget: the per-type daily count series is unit-rescaled
(ck = c // max(1, mean(c)//500), the unit_scaled discipline with a 500
target) so mean(ck) ∈ [500, 1000) at EVERY corpus scale; a593's
largest moment (Σq·y with |q| ≤ 1624 on a 30-day panel) stays below
1e8 — scale-invariant headroom of many orders of magnitude.

Reference parity target: junegunn/grouper exposes no statistics
surface (src/grouper/core.clj is a 155-line micro-batching utility);
these extend the engine's analytics/curation coverage for pipeline
monitoring and entity resolution at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..sources import table
from ._series import unit_scaled
from . import query

# ---------------------------------------------------------------------------
# Shared panels
# ---------------------------------------------------------------------------

# Unit-rescaled per-type daily count series with a contiguous 1-based
# index k (row_number over observed days — calendar gaps at tiny sf do
# not break the regressor). One global unit u pins mean(y) ∈ [500,
# 1000) at every corpus scale (see module docstring overflow budget).
_TDK_SQL = """
daily0 AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
),
uk AS (
  SELECT GREATEST(1, (CAST(SUM(c) AS BIGINT) // COUNT(*)) // 500) AS u
  FROM daily0
),
seq AS (
  SELECT grp,
         CAST(row_number() OVER (PARTITION BY grp ORDER BY d)
              AS BIGINT) AS k,
         CAST(c // u AS BIGINT) AS y
  FROM daily0 CROSS JOIN uk
)
"""


def _tdk(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    daily0 = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("grp").orderBy("d")
    return (
        unit_scaled(daily0, "c", 500, "y")
        .select("grp", F.row_number().over(w).cast("bigint").alias("k"), "y")
        # ≤150-row panel referenced by the moment aggregate and the
        # per-row orthogonal-polynomial join: checkpoint so Catalyst
        # doesn't replan the corpus count aggregate once per reference.
        .localCheckpoint(eager=False)
    )


# ---------------------------------------------------------------------------
# a593 Ramsey RESET (quadratic)
# ---------------------------------------------------------------------------


@query(
    "a593_ramsey_reset",
    oracle=f"""
WITH {_TDK_SQL},
mom AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq GROUP BY grp
),
ortho AS (
  SELECT s.grp, m.n, s.y,
         2 * s.k - (m.n + 1) AS u,
         3 * (2 * s.k - (m.n + 1)) * (2 * s.k - (m.n + 1))
           - (m.n * m.n - 1) AS q
  FROM seq s JOIN mom m ON m.grp = s.grp
),
agg AS (
  SELECT grp, CAST(MIN(n) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(u * u) AS BIGINT) AS suu,
         CAST(SUM(q * q) AS BIGINT) AS sqq,
         CAST(SUM(u * y) AS BIGINT) AS suy,
         CAST(SUM(q * y) AS BIGINT) AS sqy
  FROM ortho GROUP BY grp
),
calc AS (
  SELECT grp, n,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
         CAST(suy AS DOUBLE) * suy / suu AS ssru,
         CAST(sqy AS DOUBLE) * sqy / sqq AS ssrq
  FROM agg
)
SELECT grp, n,
       CASE WHEN n <= 3 OR cyy - ssru - ssrq <= 0 THEN NULL
            ELSE round(ssrq * (n - 3) / (cyy - ssru - ssrq), 6)
       END AS reset_f_r,
       CASE WHEN cyy <= 0 THEN NULL
            ELSE round(ssrq / cyy, 6) END AS quad_share_r
FROM calc ORDER BY grp
""",
    tags=("inference", "timeseries"),
)
def a593_ramsey_reset(spark, sf_dir):
    """Ramsey RESET functional-form test (quadratic augmentation) on
    each event type's unit-rescaled daily trend: does adding a squared
    term to y ~ a + b·t significantly cut the SSE — the standard 'is
    the linear trend mis-specified' gate. Because the added RESET
    regressor ŷ² spans the same column as t², the test is the nested
    quadratic-vs-linear F; with ORTHOGONAL integer polynomials
    u = 2k−(n+1) (Σu=0) and q = 3u²−(n²−1) (Σq=0, Σu·q=0 over the
    contiguous index), the incremental SSR is simply (Σq·y)²/Σq² —
    no 3×3 solve. All seven moments are exact BIGINTs (|q| ≤ 1624 on
    a 30-day panel — trivial headroom); the F readout is scalar
    doubles on identical exact inputs, degenerate-guarded (n ≤ 3 or
    zero residual variance → NULL), terminal round(x, 6)."""
    seq = _tdk(spark, sf_dir)
    mom = seq.groupBy("grp").agg(F.count("*").cast("bigint").alias("n"))
    u = 2 * F.col("k") - (F.col("n") + 1)
    q = 3 * u * u - (F.col("n") * F.col("n") - 1)
    ortho = seq.join(mom, "grp").select(
        "grp", "n", "y", u.alias("u"), q.alias("q")
    )
    agg = ortho.groupBy("grp").agg(
        F.min("n").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("u") * F.col("u")).cast("bigint").alias("suu"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
        F.sum(F.col("u") * F.col("y")).cast("bigint").alias("suy"),
        F.sum(F.col("q") * F.col("y")).cast("bigint").alias("sqy"),
    )
    n = F.col("n")
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    ssru = F.col("suy").cast("double") * F.col("suy") / F.col("suu")
    ssrq = F.col("sqy").cast("double") * F.col("sqy") / F.col("sqq")
    calc = agg.select(
        "grp", "n", cyy.alias("cyy"), ssru.alias("ssru"), ssrq.alias("ssrq")
    )
    sse2 = F.col("cyy") - F.col("ssru") - F.col("ssrq")
    return calc.select(
        "grp",
        "n",
        F.when((F.col("n") <= 3) | (sse2 <= 0), F.lit(None).cast("double"))
        .otherwise(F.round(F.col("ssrq") * (F.col("n") - 3) / sse2, 6))
        .alias("reset_f_r"),
        F.when(F.col("cyy") <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("ssrq") / F.col("cyy"), 6))
        .alias("quad_share_r"),
    ).orderBy("grp")


# ---------------------------------------------------------------------------
# a595 Lempel–Ziv (LZ76) complexity
# ---------------------------------------------------------------------------


@query(
    "a595_lz76_complexity",
    oracle="""
WITH RECURSIVE daily0 AS (
  SELECT event_type AS grp, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY grp, d
),
d1 AS (
  SELECT grp, d,
         c - lag(c) OVER (PARTITION BY grp ORDER BY d) AS dx
  FROM daily0
),
s AS (
  SELECT grp,
         string_agg(CASE WHEN dx > 0 THEN 'u'
                         WHEN dx < 0 THEN 'd' ELSE 'e' END,
                    '' ORDER BY d) AS str
  FROM d1 WHERE dx IS NOT NULL GROUP BY grp
),
lz AS (
  SELECT grp, str, CAST(length(str) AS BIGINT) AS len,
         CAST(0 AS BIGINT) AS j, CAST(0 AS BIGINT) AS c,
         CAST(1 AS BIGINT) AS p
  FROM s
  UNION ALL
  SELECT grp, str, len, j + 1,
         CASE WHEN instr(substr(str, 1, CAST(j AS INT)),
                         substr(str, CAST(p AS INT),
                                CAST(j + 2 - p AS INT))) = 0
              THEN c + 1 ELSE c END,
         CASE WHEN instr(substr(str, 1, CAST(j AS INT)),
                         substr(str, CAST(p AS INT),
                                CAST(j + 2 - p AS INT))) = 0
              THEN j + 2 ELSE p END
  FROM lz WHERE j < len
)
SELECT grp, len,
       c + CASE WHEN p <= len THEN 1 ELSE 0 END AS lz_c,
       CASE WHEN len <= 1 THEN NULL
            ELSE round((c + CASE WHEN p <= len THEN 1 ELSE 0 END)
                       * ln(CAST(len AS DOUBLE)) / ln(2.0) / len, 6)
       END AS cn_r
FROM lz WHERE j = len
ORDER BY grp
""",
    tags=("monitoring", "signal"),
)
def a595_lz76_complexity(spark, sf_dir):
    """Lempel–Ziv (LZ76) sequence complexity of each event type's
    daily up/down/equal movement string — the number of phrases in
    the exhaustive production history (each phrase the shortest
    substring not seen in the prefix before its last character), the
    classic model-free randomness gauge for a symbol stream, plus the
    C·log₂(len)/len normalization that →1 for incompressible noise.
    The parse is a left fold over character positions carrying
    (phrase-count, phrase-start): Spark runs it as ONE F.aggregate
    lambda over the per-type string, the oracle steps the SAME
    substr/instr expressions through a recursive CTE (the a585
    Viterbi recipe) — pure integer state, so the engines agree
    bit-for-bit; the single ln-ratio normalization is terminal
    round(x, 6). Corpus folds to 5 strings of ≤29 chars after one
    count aggregate — scale-free."""
    ev = table(spark, sf_dir, "events")
    daily0 = ev.groupBy(
        F.col("event_type").alias("grp"),
        F.date_trunc("day", "ts").cast("date").alias("d"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    w = Window.partitionBy("grp").orderBy("d")
    d1 = daily0.withColumn("dx", F.col("c") - F.lag("c").over(w))
    s = (
        d1.where(F.col("dx").isNotNull())
        .withColumn(
            "ch",
            F.when(F.col("dx") > 0, F.lit("u"))
            .when(F.col("dx") < 0, F.lit("d"))
            .otherwise(F.lit("e")),
        )
        .groupBy("grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(d, ch))), x -> x.ch), '')"
            ).alias("str")
        )
    )
    fold = (
        "aggregate(sequence(1, CAST(length(str) AS INT)),"
        " named_struct('c', CAST(0 AS BIGINT), 'p', CAST(1 AS BIGINT)),"
        " (acc, j) -> IF(instr(substr(str, 1, j - 1),"
        "                      substr(str, CAST(acc.p AS INT),"
        "                             j + 1 - CAST(acc.p AS INT))) = 0,"
        "   named_struct('c', acc.c + CAST(1 AS BIGINT),"
        "                'p', CAST(j AS BIGINT) + CAST(1 AS BIGINT)),"
        "   acc),"
        " acc -> acc.c + IF(acc.p <= CAST(length(str) AS BIGINT),"
        "                   CAST(1 AS BIGINT), CAST(0 AS BIGINT)))"
    )
    return (
        s.select(
            "grp",
            F.length("str").cast("bigint").alias("len"),
            F.expr(fold).alias("lz_c"),
        )
        .select(
            "grp",
            "len",
            "lz_c",
            F.when(F.col("len") <= 1, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("lz_c")
                    * F.log(F.col("len").cast("double"))
                    / F.log(F.lit(2.0))
                    / F.col("len"),
                    6,
                )
            )
            .alias("cn_r"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# a598 phonetic blocking-efficiency audit
# ---------------------------------------------------------------------------


def _soundex_sql(tok: str, g: str) -> str:
    """Simplified American Soundex as engine-portable SQL text: map
    letters to the classic digit classes via ``translate``, collapse
    adjacent duplicate codes with one regexp per digit class (RE2 has
    no backreferences, so the chain is 7 literal patterns — this also
    means the h/w elision rule of full Soundex is deliberately NOT
    applied; the variant is documented in a598's docstring), drop the
    first collapsed symbol (the first letter keeps its LETTER, not
    its digit), strip vowel zeros, pad to 4. ``g`` is ``", 'g'"`` for
    DuckDB (whose regexp_replace is first-match by default) and ``""``
    for Spark (always global) — same semantics either way."""
    m = (
        f"translate(lower({tok}), 'abcdefghijklmnopqrstuvwxyz',"
        f" '01230120022455012623010202')"
    )
    for dgt in "0123456":
        m = f"regexp_replace({m}, '{dgt}{dgt}+', '{dgt}'{g})"
    return (
        f"rpad(upper(substr(lower({tok}), 1, 1)) ||"
        f" replace(substr({m}, 2), '0', ''), 4, '0')"
    )


@query(
    "a598_soundex_blocking",
    oracle=f"""
WITH p AS (
  SELECT {_soundex_sql("split_part(p_name, ' ', 2)", ", 'g'")} AS blk
  FROM part
),
b AS (
  SELECT blk, CAST(COUNT(*) AS BIGINT) AS n_parts FROM p GROUP BY blk
),
tot AS (
  SELECT CAST(SUM(n_parts) AS BIGINT) AS n_total,
         CAST(SUM(n_parts * (n_parts - 1) // 2) AS BIGINT)
           AS blocked_pairs,
         CAST(COUNT(*) AS BIGINT) AS n_blocks
  FROM b
)
SELECT blk, n_parts,
       CAST(n_parts * (n_parts - 1) // 2 AS BIGINT) AS n_pairs,
       n_total, n_blocks, blocked_pairs,
       CASE WHEN n_total <= 1 THEN NULL
            ELSE CAST(blocked_pairs AS DOUBLE)
                 / (n_total * (n_total - 1) // 2) END AS pair_ratio
FROM b CROSS JOIN tot
ORDER BY n_parts DESC, blk
LIMIT 20
""",
    tags=("curation", "dedup"),
)
def a598_soundex_blocking(spark, sf_dir):
    """Phonetic blocking-efficiency audit for entity resolution: block
    the part vocabulary by the simplified Soundex code of the noun
    token of p_name (classic digit classes, adjacent-duplicate
    collapse, vowel-zero strip — WITHOUT full Soundex's h/w elision
    rule, which needs backreferences RE2 lacks; the simplification is
    shared by both engines so codes agree exactly), then report the
    top-20 blocks with their within-block candidate-pair counts and
    the global pair-reduction ratio Σ C(nᵢ,2) / C(N,2) — the number
    that decides whether a fuzzy-match join is feasible at 100 TB
    (blocking IS the scale strategy: candidate generation must be an
    equi-join on a cheap deterministic key, never an all-pairs scan;
    cf. q145's prefix filter and q34's shingle posting lists). All
    counts exact BIGINT; the ratio is one raw IEEE division."""
    p = table(spark, sf_dir, "part").select(
        F.expr(
            _soundex_sql("split_part(p_name, ' ', 2)", "")
        ).alias("blk")
    )
    b = (
        p.groupBy("blk")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
        # ≤26-row block histogram referenced by totals + final join
        .localCheckpoint(eager=False)
    )
    tot = b.agg(
        F.sum("n_parts").cast("bigint").alias("n_total"),
        F.sum(
            F.expr("n_parts * (n_parts - 1) div 2")
        )
        .cast("bigint")
        .alias("blocked_pairs"),
        F.count("*").cast("bigint").alias("n_blocks"),
    )
    j = b.crossJoin(F.broadcast(tot))
    return (
        j.select(
            "blk",
            "n_parts",
            F.expr("CAST(n_parts * (n_parts - 1) div 2 AS BIGINT)").alias(
                "n_pairs"
            ),
            "n_total",
            "n_blocks",
            "blocked_pairs",
            F.when(F.col("n_total") <= 1, F.lit(None).cast("double"))
            .otherwise(
                F.col("blocked_pairs").cast("double")
                / F.expr("n_total * (n_total - 1) div 2")
            )
            .alias("pair_ratio"),
        )
        .orderBy(F.col("n_parts").desc(), "blk")
        .limit(20)
    )
