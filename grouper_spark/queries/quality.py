"""Corpus-quality and retrieval operators: Gopher-style rule filters,
BM25 ranked retrieval, BPE merge-candidate counting, duplicated-span
flagging, and incremental (cross-snapshot) dedup.

Extends the curation battery (curation.py) with the remaining operators
a pretraining data pipeline runs before tokenization. Everything is
split/explode/groupBy/join on JVM built-ins; per-doc statistics are one
explode + two hash aggregations, corpus constants (N, avgdl, df) ride a
broadcast. All ratios are integer-count divisions (exact in IEEE double
on both engines) or 6-dp-rounded before any threshold/rank, per the
oracle-parity rules in _sqlgen.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import money, tokens
from ..sources import table
from . import query

_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"

_STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_SQL = "('" + "','".join(_STOPWORDS) + "')"


@query(
    "q101_gopher_rules",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
), stats AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct,
         CAST(SUM(len(tok)) AS BIGINT) AS sum_len,
         CAST(SUM(CASE WHEN tok IN {_STOP_SQL} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_stop
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_words,
       round(sum_len * 1.0 / n_words, 6) AS mean_word_len,
       round(n_distinct * 1.0 / n_words, 6) AS distinct_frac,
       round(n_stop * 1.0 / n_words, 6) AS stop_frac,
       CAST(CASE WHEN n_words BETWEEN 30 AND 500
                  AND sum_len * 1.0 / n_words BETWEEN 3.0 AND 10.0
                  AND n_stop >= 2
                  AND round(n_distinct * 1.0 / n_words, 6) >= 0.2
             THEN 1 ELSE 0 END AS INT) AS passes
FROM stats
ORDER BY doc_id
""",
    tags=("curation", "text"),
)
def q101_gopher_rules(spark, sf_dir):
    """Gopher-style quality rules: word-count bounds, mean word length,
    stopword floor, type-token ratio. One explode + one hash aggregation
    per document — the corpus-sized path is a single shuffle on doc_id;
    rules evaluate map-side on the aggregate row. Thresholds compare
    integer-count divisions (exact) or 6-dp-rounded ratios so both
    engines flag identical documents."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    stats = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.count_distinct("tok").cast("bigint").alias("n_distinct"),
        F.sum(F.length("tok")).cast("bigint").alias("sum_len"),
        F.sum(F.col("tok").isin(*_STOPWORDS).cast("int"))
        .cast("bigint")
        .alias("n_stop"),
    )
    mean_len = F.col("sum_len") / F.col("n_words")
    distinct_frac = F.round(F.col("n_distinct") / F.col("n_words"), 6)
    passes = (
        F.col("n_words").between(30, 500)
        & mean_len.between(3.0, 10.0)
        & (F.col("n_stop") >= 2)
        & (distinct_frac >= 0.2)
    )
    return stats.select(
        "doc_id",
        "n_words",
        F.round(mean_len, 6).alias("mean_word_len"),
        distinct_frac.alias("distinct_frac"),
        F.round(F.col("n_stop") / F.col("n_words"), 6).alias("stop_frac"),
        passes.cast("int").alias("passes"),
    ).orderBy("doc_id")


_BM25_TERMS = ("spark", "window", "merge")
_BM25_TERMS_SQL = "('" + "','".join(_BM25_TERMS) + "')"
_K1, _B = 1.2, 0.75


@query(
    "q102_bm25_topk",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
), dl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM dl
), tf AS (
  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN {_BM25_TERMS_SQL} GROUP BY doc_id, tok
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT t.doc_id,
         SUM(
           ln((c.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf * ({_K1} + 1.0))
           / (t.tf + {_K1} * (1.0 - {_B} + {_B} * l.dl * c.n_docs * 1.0
                                            / c.sum_dl))
         ) AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms_hit
  FROM tf t
  JOIN df d ON t.term = d.term
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN corpus c
  GROUP BY t.doc_id
)
SELECT doc_id, round(score, 6) AS score_r, n_terms_hit
FROM scored
ORDER BY round(score, 6) DESC, doc_id
LIMIT 20
""",
    tags=("curation", "text", "agg"),
)
def q102_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval for a fixed term set. The posting build is
    one explode with the term filter applied BEFORE the shuffle (only
    query-term postings move); corpus constants (N, Σdl) and the 3-row
    df table ride broadcasts onto the posting aggregate, so the
    corpus-sized path is exactly two shuffles (dl per doc, tf per
    doc×term). `dl/avgdl` is computed as `dl*N/Σdl` — integer
    multiplication first, one exact division — and the rank key is the
    6-dp-rounded score so a 1-ulp `ln` difference can't reorder the
    top-k cut."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm_dl = F.col("dl") * F.col("n_docs") * 1.0 / F.col("sum_dl")
    contrib = idf * (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * norm_dl)
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum(contrib).alias("score"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
    )
    return (
        scored.select(
            "doc_id",
            F.round("score", 6).alias("score_r"),
            "n_terms_hit",
        )
        .orderBy(F.col("score_r").desc(), "doc_id")
        .limit(20)
    )


@query(
    "q103_bpe_pair_freq",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKS_SQL}) AS tok FROM documents
), pairs AS (
  SELECT unnest(list_transform(
           generate_series(1, len(tok) - 1),
           i -> substring(tok, i, 2)
         )) AS pair
  FROM toks WHERE len(tok) >= 2
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS freq
FROM pairs
GROUP BY pair
ORDER BY freq DESC, pair
LIMIT 50
""",
    tags=("curation", "text"),
)
def q103_bpe_pair_freq(spark, sf_dir):
    """BPE merge-candidate counting: corpus-wide frequency of adjacent
    character pairs (the statistic each BPE training iteration
    maximizes). Pair generation is a per-token array transform (small,
    bounded by token length — the safe HOF case per the perf notes);
    the corpus-sized aggregation is one explode + hash count with
    map-side partial aggregation. Top-50 cut is a TakeOrderedAndProject
    on (freq DESC, pair) — exact integer ordering."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens("text")).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(50)
    )


@query(
    "q104_span_dedup",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, len(t) - 7),
           i -> array_to_string(list_slice(t, i, i + 7), ' ')
         )) AS grams
  FROM toks
), ex AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g
  FROM sh WHERE len(grams) > 0
), dupg AS (
  SELECT g FROM ex GROUP BY g HAVING COUNT(*) > 1
)
SELECT e.doc_id,
       CAST(MAX(e.n_grams) AS BIGINT) AS n_grams,
       CAST(COUNT(d.g) AS BIGINT) AS n_dup,
       round(COUNT(d.g) * 1.0 / MAX(e.n_grams), 6) AS dup_frac
FROM ex e LEFT JOIN dupg d ON e.g = d.g
GROUP BY e.doc_id
ORDER BY dup_frac DESC, e.doc_id
LIMIT 100
""",
    tags=("curation", "dedup"),
)
def q104_span_dedup(spark, sf_dir):
    """Duplicated-span flagging (exact substring-level dedup signal):
    fraction of each document's distinct 8-grams that appear in at least
    one other document. Grams are distinct per document, so a window
    ``COUNT(*) OVER (PARTITION BY g)`` on the exploded gram table IS the
    document frequency — one shuffle on the gram key and the shingle
    pipeline computes once, vs the naive agg-then-self-join which runs
    the tokenizer on both join branches (measured 2x slower at sf0.1);
    never doc×doc. The same posting shuffle the decontamination and
    Jaccard operators use, so the scale ceiling is the gram exchange,
    not pair expansion."""
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    # single-file fixture scans plan one task; fan the CPU-dense
    # shingling out across cores (no-op on a many-split lake source)
    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    # explode carries ONLY (doc_id, g): grams are distinct per document,
    # so the per-doc gram count is recoverable as COUNT(*) in the final
    # doc_id aggregate — carrying size(grams) through the explode makes
    # CollapseProject re-evaluate the whole shingle expression per
    # exploded row (~w× the tokenizer work; measured 5× on sf0.1).
    # Empty-gram docs produce no exploded rows, which drops them exactly
    # as the oracle's WHERE len(grams) > 0 does.
    ex = d.select("doc_id", F.explode(word_shingles("text", 8)).alias("g"))
    marked = ex.withColumn(
        "__df", F.count("*").over(Window.partitionBy("g"))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("__df") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_grams"), 6).alias("dup_frac"),
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(100)
    )


_STORE_SOURCES = ("src0", "src1", "src2", "src3")
_STORE_SQL = "('" + "','".join(_STORE_SOURCES) + "')"


@query(
    "q105_incremental_dedup",
    oracle=f"""
WITH canon AS (
  SELECT doc_id, source,
         md5(array_to_string(
           list_slice({_TOKS_SQL}, 1, 12), ' ')) AS fp
  FROM documents
), store AS (
  SELECT DISTINCT fp FROM canon WHERE source IN {_STORE_SQL}
), incoming AS (
  SELECT * FROM canon WHERE source NOT IN {_STORE_SQL}
), kept AS (
  SELECT i.doc_id, i.source, CASE WHEN s.fp IS NULL THEN 1 ELSE 0 END AS keep
  FROM incoming i LEFT JOIN store s ON i.fp = s.fp
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_incoming,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_dropped
FROM kept
GROUP BY source
ORDER BY source
""",
    tags=("curation", "dedup"),
)
def q105_incremental_dedup(spark, sf_dir):
    """Incremental (cross-snapshot) dedup: an incoming snapshot is
    anti-joined on canonical fingerprint against the fingerprints
    already in the store — the shape a recurring crawl ingest runs,
    where the store side is a fingerprint-only table orders of magnitude
    narrower than the corpus. One equi-join shuffle on the 32-byte
    fingerprint; the per-source tallies aggregate map-side first.
    Fingerprint = md5 of the canonical 12-token prefix (a leading-content
    fingerprint — catches re-crawls whose tail differs), identical in
    both engines."""
    d = table(spark, sf_dir, "documents")
    canon = d.select(
        "doc_id",
        "source",
        F.md5(F.array_join(F.slice(tokens("text"), 1, 12), " ")).alias("fp"),
    )
    store = (
        canon.filter(F.col("source").isin(*_STORE_SOURCES))
        .select("fp")
        .distinct()
    )
    incoming = canon.filter(~F.col("source").isin(*_STORE_SOURCES))
    kept = incoming.join(
        store.withColumn("__hit", F.lit(1)), "fp", "left"
    ).select(
        "source", F.when(F.col("__hit").isNull(), 1).otherwise(0).alias("keep")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_incoming"),
            F.sum("keep").cast("bigint").alias("n_kept"),
            (F.count("*") - F.sum("keep")).cast("bigint").alias("n_dropped"),
        )
        .orderBy("source")
    )


@query(
    "q156_token_entropy",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), tc AS (
  SELECT doc_id, token, COUNT(*) AS c
  FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       round(
         ln(CAST(SUM(c) AS DOUBLE))
         - CAST(SUM(c * CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000.0, 0)
                        AS BIGINT)) AS DOUBLE)
           / 1000000.0 / SUM(c),
         6
       ) AS entropy_r
FROM tc
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("quality", "text"),
)
def q156_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    quality signal that separates natural text (high entropy) from
    boilerplate/repetition (low): H = ln(n) - (1/n) * sum(c_i ln c_i).
    Per-token ln(c) is fixed-pointed to integer micro-units before the
    per-doc sum, so the only floats are one final ln(n) and one
    division — order-independent and identical across engines (q121/
    q122's proven pattern). Two groupBys on the same doc_id-prefixed
    key; at 100 TB both shuffles partial-aggregate map-side and the
    token stream is scanned once."""
    d = table(spark, sf_dir, "documents")
    tc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    ln_c_micro = money(F.log(F.col("c").cast("double")), 6)
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(
                F.log(F.sum("c").cast("double"))
                - F.sum(F.col("c") * ln_c_micro) / 1000000.0 / F.sum("c"),
                6,
            ).alias("entropy_r"),
        )
        .orderBy("doc_id")
    )


_BP_DF = 20  # shingle appears in > this many docs => boilerplate


@query(
    "q281_boilerplate_ratio",
    oracle=f"""
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
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), df AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM ex GROUP BY shingle
), scored AS (
  SELECT e.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN df.n_docs > {_BP_DF} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boiler
  FROM ex e JOIN df ON df.shingle = e.shingle
  GROUP BY e.doc_id
)
SELECT doc_id, n_shingles, n_boiler,
       round(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_ratio_r
FROM scored
ORDER BY boiler_ratio_r DESC, doc_id
LIMIT 50
""",
    tags=("quality", "text"),
)
def q281_boilerplate_ratio(spark, sf_dir):
    """Boilerplate scoring (the CCNet/RefinedWeb-style cleanup signal):
    a document whose 3-gram shingles mostly appear in MANY other
    documents is template chrome — navigation, headers, licenses — not
    content, and should be dropped or stripped before training. Each
    shingle's document frequency comes from one shuffle on the shingle
    (map-side combined); joining it back onto the per-doc shingle
    stream scores every document's boilerplate mass in the same pass
    shape as q34 — no pair joins at all, so this is strictly cheaper
    than any dedup. The >50% gate is integer cross-multiplied. Where
    q104 finds duplicated spans BETWEEN two docs and q279 finds
    containment, this measures corpus-wide commonness per doc — the
    three graduated responses to repeated text. Output is the top-50
    most boilerplate-heavy docs (the review queue); a production run
    would gate on a ratio threshold instead."""
    from ..functions.text import word_shingles
    from ..operators.core import ensure_parallelism

    d = table(spark, sf_dir, "documents")
    ex = (
        ensure_parallelism(d)
        .select(
            "doc_id", F.explode_outer(word_shingles("text", 3)).alias("shingle")
        )
        .filter(F.col("shingle").isNotNull())
        .localCheckpoint(eager=False)
    )
    df = ex.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    scored = (
        ex.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("n_docs") > _BP_DF).cast("int"))
            .cast("bigint")
            .alias("n_boiler"),
        )
    )
    return (
        scored
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_shingles"), 6
            ).alias("boiler_ratio_r"),
        )
        .orderBy(F.col("boiler_ratio_r").desc(), "doc_id")
        .limit(50)
    )


_BLOCK_WORDS = ("spill", "skew", "slow", "crash")


_BLOCK_HITS_SQL = " + ".join(
    "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
    f" t -> t = '{w}'))"
    for w in _BLOCK_WORDS
)


@query(
    "q315_lexicon_scan",
    oracle="""
WITH scanned AS (
  SELECT doc_id, source,
         len(string_split_regex(lower(trim(text)), '\\s+')) AS n_tokens,
         """
    + _BLOCK_HITS_SQL
    + """ AS n_hits
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(n_hits) AS BIGINT) AS n_hits,
       round(CAST(SUM(n_hits) AS DOUBLE) / SUM(n_tokens), 6)
         AS hit_density_r
FROM scanned GROUP BY source ORDER BY source
""",
    tags=("quality", "curation"),
)
def q315_lexicon_scan(spark, sf_dir):
    """Blocklist-lexicon scan — the word-filter stage every production
    corpus pipeline runs (safety terms, brand terms, contract-banned
    strings), instrumented per source: flagged-document counts, total
    hits, and hit density per token. The lexicon compiles into the
    row expression (array_distinct-free exact token matches via
    higher-order filter — whole-stage codegen, no join against a word
    table until the list outgrows a literal), so the scan costs one
    corpus pass and one small aggregate. Density rather than a bare
    count is the actionable number: it normalizes away source size
    and ranks WHERE the cleanup budget goes. Here the 'lexicon' is
    four engine-domain words standing in for a real blocklist."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), r"\s+")

    def word_hits(word):
        # closure factory: a 2-arg lambda would bind Spark's
        # (element, index) HOF signature, not the word
        return F.size(F.filter(toks, lambda t: t == F.lit(word)))

    hits = None
    for w in _BLOCK_WORDS:
        h = word_hits(w)
        hits = h if hits is None else hits + h
    scanned = d.select(
        "source",
        F.size(toks).cast("bigint").alias("n_tokens"),
        hits.cast("bigint").alias("n_hits"),
    )
    return (
        scanned.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("n_hits") > 0).cast("int"))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("n_hits").cast("bigint").alias("n_hits"),
            F.round(
                F.sum("n_hits").cast("double") / F.sum("n_tokens"), 6
            ).alias("hit_density_r"),
        )
        .orderBy("source")
    )


_SBLEU_NREF = 8  # bounded reference panel


@query(
    "a364_self_bleu",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '') AS ws
  FROM documents
), big AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
  FROM tok, unnest(generate_series(1, len(ws) - 1)) AS t(i)
), bcnt AS (
  SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
  FROM big GROUP BY doc_id, bg
), refs AS (
  SELECT doc_id AS ref_id, bg, c AS c_ref FROM bcnt
  WHERE doc_id < {_SBLEU_NREF}
), hyps AS (
  SELECT doc_id AS hyp_id, bg, c AS c_hyp FROM bcnt
), overlap AS (
  SELECT h.hyp_id, r.ref_id,
         CAST(SUM(least(h.c_hyp, r.c_ref)) AS BIGINT) AS clipped
  FROM hyps h JOIN refs r ON r.bg = h.bg AND r.ref_id <> h.hyp_id
  GROUP BY h.hyp_id, r.ref_id
), totals AS (
  SELECT doc_id AS hyp_id, CAST(SUM(c) AS BIGINT) AS n_big
  FROM bcnt GROUP BY doc_id
), scored AS (
  SELECT o.ref_id,
         CAST(ROUND(CAST(o.clipped AS DOUBLE) / t.n_big * 1000000.0, 0)
              AS BIGINT) AS p_micro
  FROM overlap o JOIN totals t ON t.hyp_id = o.hyp_id
)
SELECT ref_id,
       CAST(COUNT(*) AS BIGINT) AS n_hyps,
       round(CAST(SUM(p_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS self_bleu2_r
FROM scored
GROUP BY ref_id
ORDER BY ref_id
""",
    tags=("quality", "diversity"),
)
def a364_self_bleu(spark, sf_dir):
    """Self-BLEU-2 corpus-diversity score against a bounded reference
    panel — the generation-diversity metric (low = diverse corpus,
    high = mode collapse) made tractable at corpus scale: instead of
    all-pairs BLEU (O(n²)), every document's CLIPPED bigram precision
    is computed against {_SBLEU_NREF} fixed reference docs via a
    posting-list join on the bigram (docs sharing no bigram never
    meet), so the candidate table is reference-panel × overlapping
    docs — linear. Modified precision uses exact multiset clipping
    (Σ min(c_hyp, c_ref)) on BIGINT counts; per-pair precisions are
    micro-fixed before the per-reference mean. One bigram-count
    shuffle feeds references, hypotheses, AND length totals."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim("text")), r"\s+")
    toks = d.select("doc_id", ws.alias("ws"))
    big = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) < 2 THEN"
                    " CAST(array() AS array<string>)"
                    " ELSE transform(sequence(1, size(ws) - 1),"
                    " i -> concat(ws[i - 1], ' ', ws[i])) END"
                )
            ).alias("bg"),
        )
        .filter(~F.col("bg").startswith(" ") & ~F.col("bg").endswith(" "))
    )
    bcnt = big.groupBy("doc_id", "bg").agg(
        F.count("*").cast("bigint").alias("c")
    ).localCheckpoint(eager=False)  # feeds refs + hyps + totals
    refs = bcnt.filter(F.col("doc_id") < _SBLEU_NREF).select(
        F.col("doc_id").alias("ref_id"), "bg", F.col("c").alias("c_ref")
    )
    hyps = bcnt.select(
        F.col("doc_id").alias("hyp_id"), "bg", F.col("c").alias("c_hyp")
    )
    overlap = (
        hyps.join(F.broadcast(refs), "bg")
        .filter(F.col("ref_id") != F.col("hyp_id"))
        .groupBy("hyp_id", "ref_id")
        .agg(
            F.sum(F.least("c_hyp", "c_ref")).cast("bigint").alias("clipped")
        )
    )
    totals = bcnt.groupBy(F.col("doc_id").alias("hyp_id")).agg(
        F.sum("c").cast("bigint").alias("n_big")
    )
    scored = overlap.join(totals, "hyp_id").select(
        "ref_id",
        money(F.col("clipped").cast("double") / F.col("n_big"), 6).alias("p_micro"),
    )
    return (
        scored.groupBy("ref_id")
        .agg(
            F.count("*").cast("bigint").alias("n_hyps"),
            F.round(
                F.sum("p_micro").cast("double") / 1e6 / F.count("*"), 6
            ).alias("self_bleu2_r"),
        )
        .orderBy("ref_id")
    )


_POS_MAX = 12  # audit the first 12 token positions


@query(
    "a373_positional_entropy",
    oracle=f"""
WITH tok AS (
  SELECT unnest(generate_series(1, least(len(ws), {_POS_MAX}))) AS pos,
         ws AS ws
  FROM (SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents)
), occ AS (
  SELECT pos, ws[pos] AS token FROM tok
), cnt AS (
  SELECT pos, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ GROUP BY pos, token
), tot AS (
  SELECT pos, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY pos
), terms AS (
  SELECT c.pos,
         CAST(ROUND(-(CAST(c.c AS DOUBLE) / t.n)
                    * ln(CAST(c.c AS DOUBLE) / t.n)
                    * 1000000000.0, 0) AS BIGINT) AS h_nano
  FROM cnt c JOIN tot t ON t.pos = c.pos
)
SELECT t.pos AS pos,
       t.n AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       round(CAST(SUM(h_nano) AS DOUBLE) / 1000000000.0, 6)
         AS entropy_nats_r
FROM terms x JOIN tot t ON t.pos = x.pos
GROUP BY t.pos, t.n
ORDER BY pos
""",
    tags=("quality", "template"),
)
def a373_positional_entropy(spark, sf_dir):
    """Positional token entropy — template/boilerplate detection by
    POSITION: a natural corpus has near-flat entropy across token
    positions, while templated text ("Copyright …", "Chapter N: …")
    collapses entropy at the fixed slots, which is the signature the
    per-document repetition filters (q85, q281) cannot see because it
    only exists ACROSS documents. H(pos) = −Σ p·ln p over the
    position's token distribution, each term nano-fixed from exact
    (c, n) integer pairs before the sum (q121 discipline). The
    explode is bounded to the first {_POS_MAX} positions per doc —
    corpus-linear with a constant factor, one count shuffle, and the
    entropy aggregate runs over the (pos, token) TYPE table."""
    d = table(spark, sf_dir, "documents")
    ws = tokens(F.lower(F.trim("text")))
    occ = d.select(
        F.posexplode(F.slice(ws, 1, _POS_MAX)).alias("pos0", "token")
    ).select((F.col("pos0") + 1).alias("pos"), "token")
    cnt = occ.groupBy("pos", "token").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = cnt.groupBy("pos").agg(F.sum("c").cast("bigint").alias("n"))
    terms = cnt.join(F.broadcast(tot), "pos").select(
        "pos",
        money(
            -(F.col("c").cast("double") / F.col("n"))
            * F.log(F.col("c").cast("double") / F.col("n")),
            9,
        )
        .alias("h_nano"),
    )
    return (
        terms.groupBy("pos")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct"),
            F.round(
                F.sum("h_nano").cast("double") / 1e9, 6
            ).alias("entropy_nats_r"),
        )
        .join(F.broadcast(tot), "pos")
        .select(
            "pos",
            F.col("n").alias("n_docs"),
            "n_distinct",
            "entropy_nats_r",
        )
        .orderBy("pos")
    )


@query(
    "a389_compressibility",
    oracle=None,  # zlib has no DuckDB twin — rows-only; accuracy unit-tested
    tags=("quality", "rows_only"),
)
def a389_compressibility(spark, sf_dir):
    """Compression-ratio quality signal — zlib-compressed size over raw
    size per document, rolled up by source: highly compressible text is
    repetitive/templated (the CCNet-style filter the n-gram rules
    approximate, computed exactly here by an actual codec). Runs as an
    Arrow-batched ``mapInPandas`` kernel (zlib level 6 is deterministic
    for a given input, so results are stable run to run — but no SQL
    engine can reproduce DEFLATE, hence rows-only at the driver; the
    monotonicity property 'repetitive compresses smaller' is pinned by
    a unit test). Python touches each doc once with no groupBy inside
    the kernel — the per-source aggregate stays JVM-side after the
    kernel emits (source, raw, comp) rows."""
    import pandas as pd  # noqa: F401

    d = table(spark, sf_dir, "documents")

    def kernel(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "source": pdf["source"],
                    "raw_bytes": raw.str.len().astype("int64"),
                    "comp_bytes": raw.map(
                        lambda b: len(zlib.compress(b, 6))
                    ).astype("int64"),
                }
            )

    scored = d.select("source", "text").mapInPandas(
        kernel, schema="source string, raw_bytes long, comp_bytes long"
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("raw_bytes").cast("bigint").alias("raw_bytes"),
            F.sum("comp_bytes").cast("bigint").alias("comp_bytes"),
            F.round(
                F.sum("comp_bytes").cast("double") / F.sum("raw_bytes"), 6
            ).alias("ratio_r"),
        )
        .orderBy("source")
    )


@query(
    "a562_readability_scores",
    oracle="""
WITH per_doc AS (
  SELECT source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
           AS n_words,
         CAST(len(regexp_extract_all(text, '[aeiou]+')) AS BIGINT)
           AS n_vgroups,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars
  FROM documents
), agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS total_words,
         CAST(SUM(n_vgroups) AS BIGINT) AS total_vgroups,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM per_doc GROUP BY source
)
SELECT source, n_docs, total_words,
       round(CAST(total_words AS DOUBLE) / n_docs, 6) AS words_per_doc_r,
       round(CAST(total_vgroups AS DOUBLE) / total_words, 6)
         AS syllables_per_word_r,
       round(CAST(total_chars AS DOUBLE) / total_words, 6)
         AS chars_per_word_r,
       round(206.835
             - 1.015 * (CAST(total_words AS DOUBLE) / n_docs)
             - 84.6 * (CAST(total_vgroups AS DOUBLE) / total_words),
             6) AS flesch_like_r
FROM agg
ORDER BY source
""",
    tags=("quality", "text"),
)
def a562_readability_scores(spark, sf_dir):
    """Readability scoring per source — the Flesch reading-ease shape
    (206.835 − 1.015·ASL − 84.6·ASW) with documents as the sentence
    unit and vowel-group runs as the deterministic syllable proxy (a
    real syllabifier is language-specific; vowel-run counting is the
    standard portable approximation, and regexp_extract_all evaluates
    identically in both engines). Completes the quality-signal battery
    (length/punct/stopword ratios, compressibility a389, entropy a373)
    with the classic legibility axis used for corpus filtering. All
    inputs are exact integer counts folded map-side per source; the
    three ratios and the Flesch formula are closed-form doubles from
    those integers — one corpus scan, source-count-sized output at any
    sf."""
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit("[aeiou]+"), F.lit(0)))
        .cast("bigint")
        .alias("n_vgroups"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        .cast("bigint")
        .alias("n_chars"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_vgroups").cast("bigint").alias("total_vgroups"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    wpd = F.col("total_words").cast("double") / F.col("n_docs")
    spw = F.col("total_vgroups").cast("double") / F.col("total_words")
    return agg.select(
        "source",
        "n_docs",
        "total_words",
        F.round(wpd, 6).alias("words_per_doc_r"),
        F.round(spw, 6).alias("syllables_per_word_r"),
        F.round(
            F.col("total_chars").cast("double") / F.col("total_words"), 6
        ).alias("chars_per_word_r"),
        F.round(206.835 - 1.015 * wpd - 84.6 * spw, 6).alias(
            "flesch_like_r"
        ),
    ).orderBy("source")
