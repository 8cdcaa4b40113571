"""Text analysis over the ``documents`` table: string function battery,
token statistics, quality scoring, language-ID heuristic, fingerprinting.

All expressions are JVM-side (split/transform/aggregate/md5) — the whole
battery runs inside whole-stage codegen, no Python UDFs; at 100 TB these
are embarrassingly parallel map-only passes (zero shuffles except the
final per-language rollups).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import (
    md5_bits,
    normalized_text,
    token_count,
    tokens,
    word_ngrams,
)
from ..sources import table
from . import query

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@query(
    "q28_string_fns",
    oracle="""
SELECT doc_id,
       upper(substr(text, 1, 20)) AS head_upper,
       length(text) AS text_len,
       CAST(contains(text, 'spark') AS INT) AS has_spark,
       concat(lang, ':', source) AS lang_source,
       replace(substr(text, 1, 30), ' ', '_') AS head_snake
FROM documents
ORDER BY doc_id
""",
    tags=("text",),
)
def q28_string_fns(spark, sf_dir):
    """String battery: upper/substr/length/contains/concat/replace.
    (upper mirrors the reference's proc-fn motif, core_test.clj:41.)"""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 20)).alias("head_upper"),
        F.length("text").alias("text_len"),
        F.col("text").contains("spark").cast("int").alias("has_spark"),
        F.concat_ws(":", "lang", "source").alias("lang_source"),
        F.replace(
            F.substring("text", 1, 30), F.lit(" "), F.lit("_")
        ).alias("head_snake"),
    ).orderBy("doc_id")


@query(
    "q29_token_stats",
    oracle="""
WITH toks AS (
  SELECT lang,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         length(text) AS n_chars
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       SUM(n_tokens) / COUNT(*) AS avg_tokens,
       SUM(n_chars) / COUNT(*) AS avg_chars
FROM toks
GROUP BY lang
ORDER BY lang
""",
    tags=("text",),
)
def q29_token_stats(spark, sf_dir):
    """Token counting + per-language corpus statistics."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        token_count("text").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens") / F.count("*")).alias("avg_tokens"),
            (F.sum("n_chars") / F.count("*")).alias("avg_chars"),
        )
        .orderBy("lang")
    )


@query(
    "q30_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_unique,
       len(list_distinct(toks)) / len(toks) AS unique_ratio,
       len(list_filter(toks, w -> list_contains({_SW_SQL}, w))) / len(toks)
         AS stopword_ratio,
       list_sum(list_transform(toks, w -> length(w))) / len(toks)
         AS avg_token_len
FROM t
ORDER BY doc_id
""",
    tags=("text",),
)
def q30_quality_score(spark, sf_dir):
    """Quality features per document: lexical diversity, stopword density,
    mean token length — the standard pre-training quality filters."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(sw, w)))
    tok_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        n_uniq.alias("n_unique"),
        (n_uniq / n).alias("unique_ratio"),
        (n_stop / n).alias("stopword_ratio"),
        (tok_chars / n).alias("avg_token_len"),
    ).orderBy("doc_id")


@query(
    "q31_fingerprint",
    oracle="""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint_sha
FROM documents
ORDER BY doc_id
""",
    tags=("text", "dedup"),
)
def q31_fingerprint(spark, sf_dir):
    """Canonical document fingerprints (md5 + sha256 of normalized text) —
    the join key for cross-corpus exact dedup."""
    d = table(spark, sf_dir, "documents")
    norm = normalized_text("text")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.sha2(norm, 256).alias("fingerprint_sha"),
    ).orderBy("doc_id")


@query(
    "q32_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(list_intersect(list_distinct(string_split_regex(trim(text), '\\s+')),
                            {_SW_SQL})) AS n_stop_types
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN n_stop_types >= 2 THEN 'en' ELSE 'other' END AS predicted,
       CAST(((CASE WHEN n_stop_types >= 2 THEN 'en' ELSE 'other' END) = lang) AS INT)
         AS hit
FROM scored
ORDER BY doc_id
""",
    tags=("text",),
)
def q32_lang_id(spark, sf_dir):
    """Stopword-profile language-ID heuristic (n-gram/token evidence).
    Deliberately simple and deterministic; real models plug in behind the
    same column contract."""
    d = table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop_types = F.size(F.array_intersect(F.array_distinct(tokens("text")), sw))
    predicted = F.when(n_stop_types >= 2, "en").otherwise("other")
    return d.select(
        "doc_id",
        "lang",
        predicted.alias("predicted"),
        (predicted == F.col("lang")).cast("int").alias("hit"),
    ).orderBy("doc_id")


@query(
    "q54_bpe_tokens",
    oracle="""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpeish,
       len(list_distinct(regexp_extract_all(text, '\\w+|[^\\w\\s]')))
         AS n_bpeish_types
FROM documents
ORDER BY doc_id
""",
    tags=("text",),
)
def q54_bpe_tokens(spark, sf_dir):
    """Token counting two ways: whitespace and a BPE-ish regex
    (word-pieces + isolated punctuation) — the pre-tokenizer split rule
    GPT-style BPE vocabularies start from."""
    d = table(spark, sf_dir, "documents")
    bpeish = F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)
    return d.select(
        "doc_id",
        token_count("text").alias("n_ws_tokens"),
        F.size(bpeish).alias("n_bpeish"),
        F.size(F.array_distinct(bpeish)).alias("n_bpeish_types"),
    ).orderBy("doc_id")


@query(
    "q55_rolling_hash",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(text), '\\s+'),
                        tok -> length(tok) * 31 + ascii(substr(tok, 1, 1)))
           AS vals
  FROM documents
)
SELECT doc_id,
       CAST(list_reduce(vals, (a, b) -> (a * 1000003 + b) % 2147483647)
            AS BIGINT) AS roll_hash
FROM t
ORDER BY doc_id
""",
    tags=("text", "dedup"),
)
def q55_rolling_hash(spark, sf_dir):
    """Polynomial rolling-hash fingerprint over the token stream
    (order-sensitive, unlike a bag-of-words hash): fold
    acc*P + f(token) mod M left-to-right. Pure integer arithmetic in
    codegen — engine-exact by construction."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    vals = F.transform(
        toks,
        lambda t: (F.length(t) * 31 + F.ascii(F.substring(t, 1, 1))).cast("bigint"),
    )
    roll = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, b: (acc * 1000003 + b) % 2147483647,
    )
    # Zero-token docs: slice(…, 2, size-1) would get length -1 (runtime
    # error) and the seed element_at would be null — hash them to 0, the
    # same value DuckDB's f('') fold yields for whitespace-only text.
    safe = F.when(F.size(vals) == 0, F.lit(0).cast("bigint")).otherwise(roll)
    return d.select("doc_id", safe.alias("roll_hash")).orderBy("doc_id")


@query(
    "q66_fuzzy_join",
    oracle="""
WITH h AS (
  SELECT doc_id,
         substr(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'), 1, 40) AS head
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.head, b.head) AS edit_dist
FROM h a
JOIN h b
  ON substr(a.head, 1, 4) = substr(b.head, 1, 4)
 AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 10
ORDER BY doc_a, doc_b
""",
    tags=("text", "join", "fuzzy"),
)
def q66_fuzzy_join(spark, sf_dir):
    """Fuzzy self-join: candidate pairs from an equi-join on a 4-char
    prefix block, verified by Levenshtein distance over the head of the
    text. The block-then-verify shape is the scale pattern — edit
    distance runs only on candidates, never on the n² pair space.

    Both sides strip non-ASCII before the distance: DuckDB's levenshtein
    counts BYTES while Spark counts code points, so multi-byte chars
    would diverge; on ASCII the two are identical by construction."""
    d = table(spark, sf_dir, "documents")
    head = F.substring(
        F.regexp_replace("text", r"[^\x00-\x7F]", ""), 1, 40
    )
    # The word-soup vocabulary yields only ~25 distinct 4-char blocks, so
    # the blk shuffle is tiny and AQE coalesces it to ~1 partition RIGHT
    # BEFORE the quadratic in-block verify — a user repartition (AQE-
    # exempt) keeps the O(b²) Levenshtein stage spread across the
    # cluster. The 3-arg thresholded levenshtein runs the banded
    # O(len·k) algorithm and still returns the exact distance for every
    # pair within the bound, which is the only set the query keeps.
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.substring(head, 1, 4).alias("blk"),
        head.alias("head_a"),
    ).repartition(spark.sparkContext.defaultParallelism, "blk")
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.substring(head, 1, 4).alias("blk"),
        head.alias("head_b"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("head_a", "head_b", 10).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "q70_pii_scrub",
    oracle="""
WITH aug AS (
  SELECT doc_id,
         text || ' contact: user' || doc_id ||
         '@example.com or https://site' || doc_id ||
         '.example/page call 555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
           AS raw
  FROM documents
), scrubbed AS (
  SELECT doc_id, raw,
         regexp_replace(
           regexp_replace(
             regexp_replace(raw,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^ ]+', '<URL>', 'g'),
           '555-[0-9]{4}', '<PHONE>', 'g') AS clean
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         AS n_emails,
       len(regexp_extract_all(raw, 'https?://[^ ]+')) AS n_urls,
       len(regexp_extract_all(raw, '555-[0-9]{4}')) AS n_phones,
       md5(clean) AS clean_md5,
       CAST(NOT contains(clean, '@example.com') AS INT) AS email_gone
FROM scrubbed
ORDER BY doc_id
""",
    tags=("text", "pii"),
)
def q70_pii_scrub(spark, sf_dir):
    """PII scrubbing: email / URL / phone patterns replaced with typed
    placeholder tokens — the redaction pass every training corpus runs.
    Fixture text is synthetic-clean, so deterministic PII is injected
    per doc first; the oracle hash-verifies the scrubbed output, and
    ``email_gone`` proves removal. Pure regexp_replace chain: map-only,
    whole-stage codegen, zero shuffles at any scale."""
    d = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://site"), F.col("doc_id").cast("string"),
        F.lit(".example/page call 555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    url_re = r"https?://[^ ]+"
    phone_re = r"555-[0-9]{4}"
    aug = d.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("raw", email_re, "<EMAIL>"), url_re, "<URL>"
        ),
        phone_re,
        "<PHONE>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(email_re), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("raw", F.lit(url_re), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all("raw", F.lit(phone_re), 0)).alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
        (~clean.contains("@example.com")).cast("int").alias("email_gone"),
    ).orderBy("doc_id")


@query(
    "q81_context_windows",
    oracle="""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
           AS toks
  FROM documents
  WHERE doc_id < 50
)
SELECT doc_id,
       unnest(generate_series(0,
           CAST(floor(greatest(len(toks) - 32, 0) / 16.0) AS BIGINT))) AS win_idx,
       array_to_string(
         list_slice(toks,
             unnest(generate_series(0,
                 CAST(floor(greatest(len(toks) - 32, 0) / 16.0) AS BIGINT))) * 16 + 1,
             unnest(generate_series(0,
                 CAST(floor(greatest(len(toks) - 32, 0) / 16.0) AS BIGINT))) * 16 + 32),
         ' ') AS window_text
FROM t
ORDER BY doc_id, win_idx
""",
    tags=("text", "training"),
)
def q81_context_windows(spark, sf_dir):
    """Sliding context windows: each document's token stream chunked
    into windows of 32 tokens with stride 16 (the overlap-chunking every
    LLM pretraining pipeline runs before tokenization). Window count is
    floor(max(n-32,0)/16)+1, so short docs yield exactly one (possibly
    partial) window. Pure sequence/slice/explode — no shuffle until the
    final sort."""
    W, S = 32, 16
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = tokens("text")
    n_win = F.floor(F.greatest(F.size(toks) - W, F.lit(0)) / S).cast("bigint")
    t = d.select("doc_id", toks.alias("toks"), n_win.alias("n_win"))
    win = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_win"))).alias(
            "win_idx"
        ),
    )
    return win.select(
        "doc_id",
        "win_idx",
        F.array_join(
            F.slice(F.col("toks"), (F.col("win_idx") * S + 1).cast("int"), W), " "
        ).alias("window_text"),
    ).orderBy("doc_id", "win_idx")


@query(
    "q82_token_budget_packing",
    oracle="""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != ''))
           AS n_tokens
  FROM documents
), binned AS (
  SELECT doc_id, lang, n_tokens,
         CAST(floor(
           (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0
         ) AS BIGINT) AS pack_id
  FROM t
)
SELECT lang, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
FROM binned
GROUP BY lang, pack_id
ORDER BY lang, pack_id
""",
    tags=("text", "training"),
)
def q82_token_budget_packing(spark, sf_dir):
    """Token-budget packing: documents assigned to ~512-token packs per
    language by running-total binning (pack = floor(prefix_sum/budget)).
    The distributed stand-in for greedy sequence packing — one window
    pass + one aggregate, deterministic, no sequential loop. Packs can
    overflow by at most one document, the standard trade for
    parallelism."""
    BUDGET = 512
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    t = d.select(
        "doc_id", "lang", token_count("text").cast("bigint").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    binned = t.withColumn(
        "pack_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / float(BUDGET)).cast(
            "bigint"
        ),
    )
    return (
        binned.groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("lang", "pack_id")
    )


@query(
    "q184_conversation_assembly",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence,
       CAST(length(string_agg(event_type, '>' ORDER BY ts, event_id))
            AS BIGINT) AS seq_chars
FROM events
WHERE user_id < 40
GROUP BY user_id
ORDER BY user_id
""",
    tags=("text", "lm"),
)
def q184_conversation_assembly(spark, sf_dir):
    """Training-example assembly: collapse each user's event timeline
    into ONE ordered serialized sequence string — the shape that turns
    a raw log into LLM training examples (conversation turns → one
    sample). Order inside the aggregate is made deterministic by
    sorting structs of (ts, event_id, payload) — collect_list alone has
    no order guarantee across Spark partitions, so the sort_array is
    the load-bearing step. One shuffle on user_id; per-user state is
    that user's events (bounded by the WHERE gate here; at 100 TB you'd
    cap per-key sequence length the same way)."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    assembled = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("sequence"),
    )
    return assembled.select(
        "user_id",
        "n_events",
        "sequence",
        F.length("sequence").cast("bigint").alias("seq_chars"),
    ).orderBy("user_id")


@query(
    "q207_doc_chunking",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
), chunks AS (
  SELECT doc_id, len(t) AS n_tok,
         unnest(generate_series(0, len(t) - 1, 24)) AS start_tok, t
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(start_tok // 24 AS BIGINT) AS chunk_idx,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(least(32, n_tok - start_tok) AS BIGINT) AS n_tok,
       md5(array_to_string(list_slice(t, start_tok + 1, start_tok + 32), ' '))
         AS chunk_md5
FROM chunks
WHERE doc_id < 100
ORDER BY doc_id, chunk_idx
""",
    tags=("text", "curation"),
)
def q207_doc_chunking(spark, sf_dir):
    """RAG-prep document chunking: overlapping token windows (size 32,
    stride 24 — 8 tokens of overlap) with stable (doc_id, chunk_idx)
    identity and a content hash per chunk. The chunk boundary math is a
    per-row ``sequence`` + ``slice`` in codegen — embarrassingly
    parallel, no shuffle until the (bounded) output sort — and the md5
    proves content equality against the oracle without shipping chunk
    text through the comparison. The same shape feeds an embedding
    UDF at 100 TB: chunks stream out of the explode straight into the
    encoder's mapInPandas."""
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    toks = tokens("text")
    t = d.select("doc_id", toks.alias("t")).filter(F.size("t") > 0)
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(24))
    ch = t.select(
        "doc_id", F.size("t").alias("n_tok"), F.explode(starts).alias("start_tok"), "t"
    )
    return (
        ch.filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            (F.col("start_tok") / 24).cast("bigint").alias("chunk_idx"),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            F.least(F.lit(32), F.col("n_tok") - F.col("start_tok"))
            .cast("bigint")
            .alias("n_tok"),
            F.md5(
                F.array_join(F.slice("t", F.col("start_tok") + 1, 32), " ")
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "a354_regex_battery",
    oracle="""
WITH per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '\\bs[a-z]+')) AS n_s_words,
         CASE WHEN regexp_matches(text, 'join [a-z]+ filter')
              THEN 1 ELSE 0 END AS has_jf,
         regexp_extract(text, 'b[a-z]+') AS first_b_word,
         CAST(len(regexp_replace(text, '\\bthe\\b', '', 'g'))
              AS BIGINT) AS len_no_the
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_s_words) AS BIGINT) AS total_s_words,
       CAST(SUM(has_jf) AS BIGINT) AS docs_join_filter,
       CAST(COUNT(DISTINCT CASE WHEN first_b_word <> ''
                                THEN first_b_word END) AS BIGINT)
         AS distinct_first_b,
       CAST(SUM(len_no_the) AS BIGINT) AS chars_no_the
FROM per_doc
GROUP BY source
ORDER BY source
""",
    tags=("text", "regex"),
)
def a354_regex_battery(spark, sf_dir):
    """Regex function battery — count / match / extract / global-replace
    in one projection pass: per-doc match counts (regexp_extract_all
    length), boolean pattern containment (rlike), first-match
    extraction, and the post-replacement length of a \\b-anchored global
    substitution. All four run in whole-stage codegen over one scan;
    the per-source rollup is a single map-side-combined aggregate.
    Patterns stick to the syntax subset where Java regex (Spark) and
    RE2 (DuckDB) agree — character classes, word boundaries,
    literals — so the oracle is exact; lookarounds and backreferences
    are deliberately out of scope (RE2 has neither)."""
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.size(F.regexp_extract_all("text", F.lit(r"\bs[a-z]+"), 0))
        .alias("n_s_words"),
        F.col("text").rlike("join [a-z]+ filter").cast("int").alias("has_jf"),
        F.regexp_extract("text", "b[a-z]+", 0).alias("first_b_word"),
        F.length(F.regexp_replace("text", r"\bthe\b", "")).cast("bigint")
        .alias("len_no_the"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_s_words").cast("bigint").alias("total_s_words"),
            F.sum("has_jf").cast("bigint").alias("docs_join_filter"),
            F.count_distinct(
                F.when(F.col("first_b_word") != "", F.col("first_b_word"))
            )
            .cast("bigint")
            .alias("distinct_first_b"),
            F.sum("len_no_the").cast("bigint").alias("chars_no_the"),
        )
        .orderBy("source")
    )


_WINNOW_K = 3  # k-gram size
_WINNOW_W = 4  # winnowing window (guarantee: every w-run yields a print)
_WN_HEX = 15  # 60-bit md5 hashes, BIGINT-safe both engines


@query(
    "a556_winnowing_fingerprint",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
), grams AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS pos,
         ('0x' || substr(md5('wn|' || array_to_string(
            list_slice(ts, i, i + {_WINNOW_K - 1}), ' ')), 1, {_WN_HEX}))::BIGINT
           AS h
  FROM toks,
       unnest(generate_series(1, len(ts) - {_WINNOW_K - 1})) AS t(i)
  WHERE len(ts) >= {_WINNOW_K}
), wins AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW
                               AND {_WINNOW_W - 1} FOLLOWING) AS wmin,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                                 AND {_WINNOW_W - 1} FOLLOWING) AS wn,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM grams
), sel AS (
  SELECT DISTINCT doc_id, n_grams, wmin
  FROM wins WHERE wn = {_WINNOW_W}
)
SELECT doc_id,
       CAST(MIN(n_grams) AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       CAST(bit_xor(wmin) AS BIGINT) AS fp_sig
FROM sel
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("text", "fingerprint"),
)
def a556_winnowing_fingerprint(spark, sf_dir):
    """Robust winnowing (the MOSS fingerprinting algorithm): positional
    {k}-gram hashes, a sliding window of {w} grams, the window MINIMUM
    selected as a fingerprint — guaranteeing every {w}-gram run of a
    document contributes at least one print, so any shared substring of
    ≥ k+w−1 tokens is detectable from fingerprints alone at a ~2/(w+1)
    storage fraction. That guarantee is what q31's full rolling-hash
    fingerprint lacks and what sampling every j-th gram cannot give.
    Dedup-by-hash-VALUE makes the tie rule irrelevant (tied minima are
    identical grams, hence identical prints — documented deliberately),
    so both engines need only MIN over an identical ROWS frame.
    md5-derived 60-bit hashes keep the oracle value-exact; output is
    the per-doc print count + order-independent bit_xor signature. One
    explode, two windows over the same per-doc partitioning, one
    aggregate — linear in corpus tokens at any scale.""".replace(
        "{k}", str(_WINNOW_K)
    ).replace("{w}", str(_WINNOW_W))
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    from ..operators.core import ensure_parallelism

    toks = ensure_parallelism(d).select(
        "doc_id", tokens("text").alias("ts")
    ).filter(F.size("ts") >= _WINNOW_K)
    grams = toks.select(
        "doc_id",
        F.posexplode(word_ngrams(F.col("ts"), _WINNOW_K)).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("bigint").alias("pos"),
        md5_bits(F.concat(F.lit("wn|"), F.col("gram")), _WN_HEX).alias("h"),
    )
    frame = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, _WINNOW_W - 1)
    )
    wins = grams.select(
        "doc_id",
        F.min("h").over(frame).alias("wmin"),
        F.count("*").over(frame).alias("wn"),
        F.count("*").over(W.partitionBy("doc_id")).alias("n_grams"),
    )
    sel = wins.filter(F.col("wn") == _WINNOW_W).select(
        "doc_id", "n_grams", "wmin"
    ).distinct()
    return (
        sel.groupBy("doc_id")
        .agg(
            F.min("n_grams").cast("bigint").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_fingerprints"),
            F.bit_xor("wmin").cast("bigint").alias("fp_sig"),
        )
        .orderBy("doc_id")
    )


@query(
    "a418_kwic_concordance",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
), hits AS (
  SELECT doc_id, i AS pos, len(ts) AS n,
         list_slice(ts, GREATEST(i - 2, 1), LEAST(i + 2, len(ts))) AS ctx
  FROM toks, unnest(generate_series(1, len(ts))) AS t(i)
  WHERE ts[i] = 'spark'
)
SELECT array_to_string(ctx, ' ') AS context,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hits
GROUP BY context
ORDER BY n_occurrences DESC, context
LIMIT 20
""",
    tags=("text", "search"),
)
def a418_kwic_concordance(spark, sf_dir):
    """Keyword-in-context concordance — the corpus linguist's (and
    data-curator's) view of HOW a term is used: every occurrence of
    'spark' with its ±2-token window, grouped into the top recurring
    contexts. Recurring identical contexts are template/boilerplate
    fingerprints (the curation signal: a phrase that repeats verbatim
    thousands of times is machine-generated), making this the
    token-level cousin of positional entropy (a373) and the
    contamination matrix (a386). One positional explode with the
    match filter applied in the SAME projection (tokens materialize
    once), boundary-clamped slices built from identical
    GREATEST/LEAST index arithmetic in both engines (DuckDB
    list_slice is end-INDEXED, Spark slice takes a LENGTH — the
    clamped endpoints reconcile them), one count aggregate.
    Occurrence volume is corpus-linear; the context table is bounded
    by distinct-context cardinality."""
    d = table(spark, sf_dir, "documents")
    from ..operators.core import ensure_parallelism

    toks = ensure_parallelism(d).select(
        "doc_id", tokens("text").alias("ts")
    )
    hits = (
        toks.select(
            "doc_id",
            "ts",
            F.size("ts").alias("n"),
            F.posexplode("ts").alias("p0", "tok"),
        )
        .filter(F.col("tok") == "spark")
        .select(
            "doc_id",
            F.expr(
                "array_join(slice(ts, GREATEST(p0 + 1 - 2, 1),"
                " LEAST(p0 + 1 + 2, n) - GREATEST(p0 + 1 - 2, 1) + 1), ' ')"
            ).alias("context"),
        )
    )
    return (
        hits.groupBy("context")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), "context")
        .limit(20)
    )
