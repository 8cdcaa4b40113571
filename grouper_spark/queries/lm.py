"""Language-model statistics battery: windowed PMI co-occurrence and
bigram language-model scoring over the documents corpus.

Both operators follow the posting-shape rule that governs every text
operator in this engine: token positions are exploded once, joined on
the doc_id key (never a cross join), and all counting happens in
map-side-combined groupBys. Log-probabilities are fixed-pointed to
micro-units before summing so the corpus-order-dependent double
accumulation can't flip a rounding boundary between engines (same
pattern as functions.text.money_sum).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import md5_bits, money, tokens
from ..sources import table
from . import query
from ..operators.core import literal_frame

_PMI_WINDOW = 2  # co-occurrence distance: tokens within 2 positions
_PMI_MIN_PAIRS = 5


@query(
    "q121_pmi_cooccurrence",
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks))) AS pos,
         unnest(toks) AS w
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
             AS toks
    FROM documents
  )
), pairs AS (
  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id
   AND b.pos > a.pos AND b.pos <= a.pos + {_PMI_WINDOW}
  GROUP BY w1, w2
), unig AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
), tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS t,
         (SELECT CAST(SUM(c12) AS BIGINT) FROM pairs) AS p
)
SELECT w1, w2, c12,
       round(ln(CAST(c12 * t * t AS DOUBLE) / CAST(p * u1.c * u2.c AS DOUBLE)),
             6) AS pmi
FROM pairs
JOIN unig u1 ON u1.w = w1
JOIN unig u2 ON u2.w = w2
CROSS JOIN tot
WHERE c12 >= {_PMI_MIN_PAIRS}
ORDER BY w1, w2
""",
    tags=("lm", "text"),
)
def q121_pmi_cooccurrence(spark, sf_dir):
    """Pointwise mutual information of token pairs co-occurring within
    a 2-position window. The pair generator is a self-join on doc_id
    (equi key) with a positional band filter — per-doc work is linear in
    document length x window size, never all-pairs. PMI is computed from
    exact integer counts with a single ln() at the end; the integer
    products stay well inside int64 (T^2 * c12 ~ 1e13 at sf0.01)."""
    d = table(spark, sf_dir, "documents")
    # the exploded token table feeds the pair self-join (both sides),
    # the unigram counts, and the totals — checkpoint it so the
    # tokenizer runs once, not once per reference; pairs is vocab²-sized
    # and referenced twice (scores + totals)
    tok = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    ).localCheckpoint(eager=False)
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") <= F.col("a.pos") + _PMI_WINDOW),
        )
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count("*").cast("bigint").alias("c12"))
        .localCheckpoint(eager=False)
    )
    unig = tok.groupBy(F.col("w").alias("u")).agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = tok.agg(F.count("*").cast("bigint").alias("t")).crossJoin(
        pairs.agg(F.sum("c12").cast("bigint").alias("p"))
    )
    u1 = unig.withColumnRenamed("u", "w1").withColumnRenamed("c", "c1")
    u2 = unig.withColumnRenamed("u", "w2").withColumnRenamed("c", "c2")
    return (
        pairs.filter(F.col("c12") >= _PMI_MIN_PAIRS)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") * F.col("t") * F.col("t")).cast("double")
                    / (F.col("p") * F.col("c1") * F.col("c2")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


@query(
    "q122_bigram_lm_score",
    oracle="""
WITH tok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(toks))) AS pos,
         unnest(toks) AS w
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
             AS toks
    FROM documents
  )
), nexted AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok
), bigrams AS (
  SELECT doc_id, w1, w2 FROM nexted WHERE w2 IS NOT NULL
), bg AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bigrams GROUP BY w1, w2
), ctx AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bg GROUP BY w1
), scored AS (
  SELECT d.doc_id,
         CAST(ROUND(ln(CAST(bg.c12 AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
                    * 1000000.0, 0) AS BIGINT) AS logp_micro
  FROM bigrams d
  JOIN bg ON bg.w1 = d.w1 AND bg.w2 = d.w2
  JOIN ctx ON ctx.w1 = d.w1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(logp_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_logp
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("lm", "text"),
)
def q122_bigram_lm_score(spark, sf_dir):
    """Bigram language-model scoring: train maximum-likelihood bigram
    probabilities P(w2|w1) = c(w1,w2)/c(w1·) on the corpus, then score
    every document by its mean log-probability — the perplexity-filter
    shape used to select training data against an in-domain LM. Counts
    are two map-side-combined groupBys over a lead-window bigram stream;
    each per-bigram ln() is fixed-pointed to integer micro-units before
    the per-doc sum so both engines accumulate exactly."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "w"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        tok.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w").over(wdoc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    bg = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("c12")
    )
    ctx = bg.groupBy("w1").agg(F.sum("c12").cast("bigint").alias("c1"))
    scored = (
        bigrams.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .select(
            "doc_id",
            money(F.log(F.col("c12").cast("double") / F.col("c1").cast("double")), 6)
            .alias("logp_micro"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum("logp_micro") / 1_000_000.0 / F.count("*"), 6
            ).alias("avg_logp"),
        )
        .orderBy("doc_id")
    )


@query(
    "q152_dsir_importance",
    oracle="""
WITH tok AS (
  SELECT doc_id, source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), feat AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(token), 1, 2)) AS BIGINT) AS bucket
  FROM tok
), tgt AS (
  SELECT bucket, COUNT(*) AS ct FROM feat WHERE source = 'src18'
  GROUP BY bucket
), raw AS (
  SELECT bucket, COUNT(*) AS cr FROM feat GROUP BY bucket
), tot AS (
  SELECT (SELECT COUNT(*) FROM feat WHERE source = 'src18') AS t,
         (SELECT COUNT(*) FROM feat) AS r
), lr AS (
  SELECT raw.bucket,
         CAST(ROUND(ln(
           CAST((COALESCE(tgt.ct, 0) + 1) * (tot.r + 256) AS DOUBLE)
           / CAST((raw.cr + 1) * (tot.t + 256) AS DOUBLE)
         ) * 1000000.0, 0) AS BIGINT) AS lr_micro
  FROM raw LEFT JOIN tgt USING (bucket), tot
)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       round(CAST(SUM(lr.lr_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS score_r
FROM feat f JOIN lr ON lr.bucket = f.bucket
GROUP BY f.doc_id
ORDER BY score_r DESC, f.doc_id
LIMIT 50
""",
    tags=("lm", "curation"),
)
def q152_dsir_importance(spark, sf_dir):
    """DSIR-style importance scoring (data selection via importance
    resampling, Xie et al. 2023): score every document by how much its
    hashed-feature distribution looks like a target domain (source
    'src18') versus the raw corpus. Features are md5-hashed token
    buckets (256 of them — deterministic in both engines, the hashed
    n-gram trick that caps feature cardinality at any corpus size);
    bucket log-ratios use Laplace-smoothed counts, fixed-pointed to
    integer micro-units BEFORE the per-document mean so the aggregate is
    order-independent. The 256-row log-ratio table broadcasts back onto
    the token stream — at 100 TB this is two count shuffles plus one
    map-side join, and the top-50 is a TakeOrdered, never a global
    sort."""
    d = table(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    ).select(
        "doc_id",
        "source",
        md5_bits("token", 2).alias("bucket"),
    )
    tgt = (
        feat.filter(F.col("source") == "src18")
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    raw = feat.groupBy("bucket").agg(F.count("*").alias("cr"))
    tot = feat.agg(
        F.sum((F.col("source") == "src18").cast("bigint")).alias("t"),
        F.count("*").alias("r"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            money(
                F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1) * (F.col("r") + 256)).cast(
                        "double"
                    )
                    / ((F.col("cr") + 1) * (F.col("t") + 256)).cast("double")
                ),
                6,
            )
            .alias("lr_micro"),
        )
    )
    return (
        feat.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("lr_micro") / 1000000.0 / F.count("*"), 6
            ).alias("score_r"),
        )
        .orderBy(F.col("score_r").desc(), "doc_id")
        .limit(50)
    )


@query(
    "q162_span_corruption",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
), sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 8
), pick AS (
  SELECT doc_id, toks, n,
         2 + CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % (n - 4) AS s
  FROM sized
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(s AS BIGINT) AS span_start,
       array_to_string(list_slice(toks, 1, s - 1), ' ')
         || ' <extra_id_0> '
         || array_to_string(list_slice(toks, s + 3, n), ' ') AS input_text,
       '<extra_id_0> ' || array_to_string(list_slice(toks, s, s + 2), ' ')
         AS target_text
FROM pick
ORDER BY doc_id
""",
    tags=("lm", "multimodal"),
)
def q162_span_corruption(spark, sf_dir):
    """T5-style span-corruption pair generation — the map-only
    transform that turns a raw corpus into (input-with-sentinel,
    target) denoising training examples. The masked 3-token span's
    position is md5-derived from doc_id, so the 'random' corruption is
    reproducible bit-for-bit in both engines and across re-runs (the
    property a resumable 100 TB preprocessing job needs: re-executing a
    failed partition regenerates identical examples). Pure token-array
    slicing in codegen, no shuffle at all — the ideal Spark shape: at
    any scale this runs scan-speed, embarrassingly parallel."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    ).withColumn("n", F.size("toks"))
    sized = t.filter(F.col("n") >= 8)
    s = 2 + (md5_bits(F.col("doc_id").cast("string"), 4) % (F.col("n") - 4))
    pick = sized.withColumn("s", s)
    prefix = F.array_join(
        F.slice(F.col("toks"), 1, (F.col("s") - 1).cast("int")), " "
    )
    suffix = F.array_join(
        F.slice(
            F.col("toks"),
            (F.col("s") + 3).cast("int"),
            (F.col("n") - F.col("s") - 2).cast("int"),
        ),
        " ",
    )
    span = F.array_join(
        F.slice(F.col("toks"), F.col("s").cast("int"), 3), " "
    )
    return pick.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.col("s").cast("bigint").alias("span_start"),
        F.concat(prefix, F.lit(" <extra_id_0> "), suffix).alias("input_text"),
        F.concat(F.lit("<extra_id_0> "), span).alias("target_text"),
    ).orderBy("doc_id")


_VOCAB_K = 100


@query(
    "q173_vocab_oov_rate",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
), vocab AS (
  SELECT t FROM (
    SELECT t, COUNT(*) AS c FROM tok GROUP BY t
    ORDER BY c DESC, t
    LIMIT {_VOCAB_K}
  )
)
SELECT k.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS oov_rate
FROM tok k LEFT JOIN vocab v ON k.t = v.t
GROUP BY k.doc_id
ORDER BY k.doc_id
""",
    tags=("lm", "curation"),
)
def q173_vocab_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    rate against the corpus's top-100 tokens by global frequency
    (deterministic tie-break on the token string). The pipeline a
    tokenizer-fit step runs before training: one token shuffle builds
    the frequency table, the vocabulary is LIMIT-K small and
    broadcasts, and the per-doc OOV aggregate rides the doc_id
    partial-agg — the corpus is never joined to anything
    non-broadcast. Low-coverage docs (high oov_rate) are the ones a
    fixed vocab would shred into bytes, the standard exclusion signal
    for vocab-sensitive training mixes."""
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(_VOCAB_K)
        .select("t", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


@query(
    "q196_feature_hashing",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket,
         CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(SUM(sgn) AS BIGINT) AS val,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM hashed
WHERE doc_id < 100
GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
""",
    tags=("lm", "curation"),
)
def q196_feature_hashing(spark, sf_dir):
    """Hashing-trick featurization (64-bucket signed feature vectors)
    — the vocabulary-free text vectorizer for ML pipelines at corpus
    scale: no vocab table, no broadcast dictionary, no OOV handling;
    bucket and sign both derive from md5 of the token so the feature
    map is stateless and identical on every executor. One explode +
    one (doc, bucket) aggregate; signed sums (Weinberger et al.) make
    collisions cancel in expectation rather than bias upward."""
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h8 = md5_bits("tok", 8)
    h1 = md5_bits("tok", 1, 9)
    hashed = tok.select(
        "doc_id",
        (h8 % 64).alias("bucket"),
        F.when(h1 % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return (
        hashed.filter(F.col("doc_id") < 100)
        .groupBy("doc_id", "bucket")
        .agg(
            F.sum("sgn").cast("bigint").alias("val"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id", "bucket")
    )


@query(
    "q230_mixture_kl_audit",
    oracle="""
WITH tok AS (
  SELECT source,
         CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT SUM(n_tokens) AS t FROM tok),
target AS (
  SELECT unnest(['src0', 'src1', 'src2', 'src3']) AS source,
         unnest([0.4, 0.3, 0.2, 0.1]::DOUBLE[]) AS p_target
)
SELECT k.source,
       k.n_tokens,
       round(CAST(k.n_tokens AS DOUBLE) / (SELECT t FROM tot), 6)
         AS p_actual,
       g.p_target,
       round(CAST(k.n_tokens AS DOUBLE) / (SELECT t FROM tot)
             * CAST(ROUND(ln(CAST(k.n_tokens AS DOUBLE) / (SELECT t FROM tot)
                             / g.p_target) * 1000000.0, 0) AS BIGINT)
             / 1000000.0, 6) AS kl_term_r
FROM tok k JOIN target g USING (source)
ORDER BY k.source
""",
    tags=("lm", "curation", "monitoring"),
)
def q230_mixture_kl_audit(spark, sf_dir):
    """Training-mixture drift audit: actual per-source TOKEN share vs
    the declared target mixture, with each source's KL-divergence term
    p·ln(p/q) — the number a data-mixing pipeline alarms on when a
    source's crawl volume drifts from the recipe (q94 REBALANCES to a
    target; this AUDITS divergence from it). Token mass aggregates
    map-side per source (source-count rows); the target mixture is an
    inline literal dimension; the ln is fixed-pointed to micro units
    before the final multiply so the 6-dp terms are engine-stable."""
    from ..functions.text import token_count

    d = table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("n_tokens")
    )
    target = literal_frame(
        spark,
        [("src0", 0.4), ("src1", 0.3), ("src2", 0.2), ("src3", 0.1)],
        "source string, p_target double",
    )
    tot = tok.agg(F.sum("n_tokens").alias("t"))
    p = F.col("n_tokens").cast("double") / F.col("t")
    ln_micro = money(F.log(p / F.col("p_target")), 6)
    return (
        tok.crossJoin(F.broadcast(tot))
        .join(F.broadcast(target), "source")
        .select(
            "source",
            "n_tokens",
            F.round(p, 6).alias("p_actual"),
            "p_target",
            F.round(p * ln_micro / 1000000.0, 6).alias("kl_term_r"),
        )
        .orderBy("source")
    )


@query(
    "q234_zipf_slope",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
  FROM tok WHERE token <> '' GROUP BY token
), top AS (
  SELECT token, freq FROM freq
  ORDER BY freq DESC, token LIMIT 200
), pts AS (
  SELECT token, freq,
         CAST(ROUND(ln(CAST(row_number() OVER (ORDER BY freq DESC, token)
                            AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS lx,
         CAST(ROUND(ln(CAST(freq AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS ly
  FROM top
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
         CAST(SUM(lx * ly) AS BIGINT) AS sxy,
         CAST(SUM(lx * lx) AS BIGINT) AS sxx,
         MIN(CASE WHEN lx = 0 THEN token END) AS top_token,
         CAST(MAX(freq) AS BIGINT) AS top_freq
  FROM pts
)
SELECT n AS n_ranks, top_token, top_freq,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS slope_r,
       round((CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * sx)
             / n / 1000000.0, 4) AS intercept_r
FROM s
""",
    tags=("lm", "text"),
)
def q234_zipf_slope(spark, sf_dir):
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    ln(freq) vs ln(rank) over the top-200 tokens — the standard corpus
    health probe (natural text slopes near -1; templated or synthetic
    spam bends the curve). One token-count shuffle collapses the corpus
    to the vocabulary; the top-200 is a TakeOrdered with a deterministic
    (freq DESC, token) total order, never a global sort. Both ln() calls
    run on exact integers (rank, freq), are fixed-pointed to micro-units
    per point (the q152/q156 recipe), and the OLS closed form is exact
    BIGINT sums with one final double division — the 1e6 scales cancel
    in the slope; the intercept divides once at the end. At 100 TB only
    the vocabulary aggregate sees corpus-sized data."""
    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    top = freq.orderBy(F.col("freq").desc(), "token").limit(200)
    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy(F.col("freq").desc(), "token"))
    pts = top.select(
        "token",
        "freq",
        money(F.log(rk.cast("double")), 6).alias("lx"),
        money(F.log(F.col("freq").cast("double")), 6).alias("ly"),
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("bigint").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("bigint").alias("sxx"),
        F.min(F.when(F.col("lx") == 0, F.col("token"))).alias("top_token"),
        F.max("freq").cast("bigint").alias("top_freq"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = (n * F.col("sxy") - sx * sy).cast("double")
    den = (n * F.col("sxx") - sx * sx).cast("double")
    return s.select(
        n.alias("n_ranks"),
        "top_token",
        "top_freq",
        F.round(num / den, 4).alias("slope_r"),
        F.round(
            (sy.cast("double") - num / den * sx) / n / 1000000.0, 4
        ).alias("intercept_r"),
    )


_HEAPS_BUCKET = 250  # docs per growth checkpoint


@query(
    "q243_heaps_law",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, text,
         row_number() OVER (ORDER BY doc_id) AS r
  FROM documents
), tok AS (
  SELECT r, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM ranked
), occ AS (
  SELECT r, token FROM tok WHERE token <> ''
), firsts AS (
  SELECT token, MIN(r) AS first_r FROM occ GROUP BY token
), per_bucket AS (
  SELECT CAST((r - 1) // {_HEAPS_BUCKET} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM occ GROUP BY bucket
), new_vocab AS (
  SELECT CAST((first_r - 1) // {_HEAPS_BUCKET} AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_new
  FROM firsts GROUP BY bucket
)
SELECT p.bucket,
       CAST(SUM(p.n_tok) OVER w AS BIGINT) AS tokens_cum,
       CAST(SUM(COALESCE(v.n_new, 0)) OVER w AS BIGINT) AS vocab_cum,
       round(ln(CAST(SUM(COALESCE(v.n_new, 0)) OVER w AS DOUBLE))
             / ln(CAST(SUM(p.n_tok) OVER w AS DOUBLE)), 6) AS beta_r
FROM per_bucket p LEFT JOIN new_vocab v ON v.bucket = p.bucket
WINDOW w AS (ORDER BY p.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY p.bucket
""",
    tags=("lm", "text"),
)
def q243_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve: cumulative distinct vocabulary
    vs cumulative token count at every {_HEAPS_BUCKET}-document
    checkpoint, plus the implied exponent ln(V)/ln(N) — q234's Zipf fit
    is the frequency view, this is the growth view, and together they
    are the standard corpus-naturalness pair. The "distinct so far"
    series never runs a cumulative count_distinct (quadratic in any
    engine): each token's FIRST occurrence rank (one min-aggregate over
    the token stream) is the only row that increments vocabulary, so
    cumulative vocab is a running sum of per-bucket first-occurrence
    counts — two map-side-combined shuffles over the corpus, then
    windows over the checkpoint summary only. Doc rank uses a global
    row_number over doc_id; at lake scale swap in the q209 two-phase
    numbering (per-partition counts + broadcast offsets) — the rest of
    the plan is unchanged."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    ranked = d.select(
        "text", F.row_number().over(Window.orderBy("doc_id")).alias("r")
    )
    occ = ranked.select(
        "r",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = ((F.col("r") - 1) / _HEAPS_BUCKET).cast("bigint")
    per_bucket = occ.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    firsts = occ.groupBy("token").agg(F.min("r").alias("first_r"))
    new_vocab = firsts.groupBy(
        ((F.col("first_r") - 1) / _HEAPS_BUCKET).cast("bigint").alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("n_new"))
    joined = per_bucket.join(new_vocab, "bucket", "left").select(
        "bucket",
        "n_tok",
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    tokens_cum = F.sum("n_tok").over(w).cast("bigint")
    vocab_cum = F.sum("n_new").over(w).cast("bigint")
    return joined.select(
        "bucket",
        tokens_cum.alias("tokens_cum"),
        vocab_cum.alias("vocab_cum"),
        F.round(
            F.log(vocab_cum.cast("double")) / F.log(tokens_cum.cast("double")),
            6,
        ).alias("beta_r"),
    ).orderBy("bucket")


@query(
    "q296_naive_bayes_eval",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, CAST(doc_id % 2 AS INT) AS is_test,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), train AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE is_test = 0 AND token <> '' GROUP BY source, token
), class_tot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM train GROUP BY source
), vocab AS (
  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
  FROM toks WHERE is_test = 0 AND token <> ''
), priors AS (
  SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
  FROM toks WHERE is_test = 0 GROUP BY source
), test_toks AS (
  SELECT doc_id, source AS true_source, token
  FROM toks WHERE is_test = 1 AND token <> ''
), scored_tok AS (
  SELECT tt.doc_id, tt.true_source, ct.source AS cls,
         CAST(ROUND(ln((COALESCE(tr.c, 0) + 1.0) / (ct.tot + vb.v))
                    * 1000000.0, 0) AS BIGINT) AS ll_micro
  FROM test_toks tt
  CROSS JOIN class_tot ct
  CROSS JOIN vocab vb
  LEFT JOIN train tr ON tr.source = ct.source AND tr.token = tt.token
), doc_scores AS (
  SELECT st.doc_id, st.true_source, st.cls,
         CAST(SUM(st.ll_micro)
              + (SELECT CAST(ROUND(ln(CAST(p.nd AS DOUBLE)
                             / (SELECT SUM(nd) FROM priors))
                             * 1000000.0, 0) AS BIGINT)
                 FROM priors p WHERE p.source = st.cls) AS BIGINT)
           AS score_micro
  FROM scored_tok st
  GROUP BY st.doc_id, st.true_source, st.cls
), predicted AS (
  SELECT doc_id, true_source, cls AS predicted,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, cls) AS rk
  FROM doc_scores
)
SELECT true_source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN predicted = true_source THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(CAST(SUM(CASE WHEN predicted = true_source
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
         AS accuracy_r
FROM predicted WHERE rk = 1
GROUP BY true_source
ORDER BY true_source
""",
    tags=("lm", "eval", "mlops"),
)
def q296_naive_bayes_eval(spark, sf_dir):
    """A complete ML train/evaluate loop INSIDE the engine: multinomial
    Naive Bayes source classification — train on even doc ids, score
    odd ones, report per-class holdout accuracy. Laplace-smoothed
    per-token log-likelihoods are fixed-pointed to micro-units per
    (token, class) term (the ln arguments are exact rationals of
    integer counts, so both engines round identical doubles), summed
    exactly per (doc, class), and argmax'd with a deterministic
    (score DESC, class) tie order. The expensive stage — the test
    token stream joined against the class-conditional count table —
    is a posting-list LEFT join fanned out by |classes| (20), the
    same cost shape as the q102 BM25 scorer; everything else is
    class- or vocab-cardinality. No driver loops, no MLlib, no UDFs:
    Bayes as four aggregates and a join."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            "source",
            (F.col("doc_id") % 2).cast("int").alias("is_test"),
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
        .localCheckpoint(eager=False)
    )
    train = (
        toks.filter(F.col("is_test") == 0)
        .groupBy("source", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    class_tot = train.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("tot")
    )
    vocab = train.agg(
        F.count_distinct("token").cast("bigint").alias("v")
    )
    priors = (
        toks.filter(F.col("is_test") == 0)
        .groupBy("source")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("nd"))
    )
    prior_tot = priors.agg(F.sum("nd").cast("bigint").alias("nd_all"))
    prior_ln = (
        priors.crossJoin(F.broadcast(prior_tot))
        .select(
            F.col("source").alias("cls"),
            money(F.log(F.col("nd").cast("double") / F.col("nd_all")), 6)
            .alias("prior_micro"),
        )
    )
    test_toks = toks.filter(F.col("is_test") == 1).select(
        "doc_id", F.col("source").alias("true_source"), "token"
    )
    ct = class_tot.select(F.col("source").alias("cls"), "tot")
    tr = train.select(
        F.col("source").alias("cls"), "token", F.col("c").alias("c")
    )
    scored_tok = (
        test_toks.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(vocab))
        .join(tr, ["cls", "token"], "left")
        .select(
            "doc_id",
            "true_source",
            "cls",
            money(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("tot") + F.col("v"))
                ),
                6,
            )
            .alias("ll_micro"),
        )
    )
    doc_scores = (
        scored_tok.groupBy("doc_id", "true_source", "cls")
        .agg(F.sum("ll_micro").cast("bigint").alias("ll_sum"))
        .join(F.broadcast(prior_ln), "cls")
        .select(
            "doc_id",
            "true_source",
            "cls",
            (F.col("ll_sum") + F.col("prior_micro"))
            .cast("bigint")
            .alias("score_micro"),
        )
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "cls"
    )
    predicted = doc_scores.select(
        "doc_id",
        "true_source",
        F.col("cls").alias("predicted"),
        F.row_number().over(wr).alias("rk"),
    ).filter(F.col("rk") == 1)
    return (
        predicted.groupBy("true_source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("predicted") == F.col("true_source")).cast("int")
            )
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    (F.col("predicted") == F.col("true_source")).cast(
                        "int"
                    )
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("accuracy_r"),
        )
        .orderBy("true_source")
    )


@query(
    "q300_lm_perplexity_holdout",
    oracle="""
WITH toks AS (
  SELECT doc_id, CAST(doc_id % 2 AS INT) AS is_test,
         string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
), bigrams AS (
  SELECT doc_id, is_test,
         ws[i] AS w1, ws[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ws) - 1)) t(i)
  WHERE ws[i] <> '' AND ws[i + 1] <> ''
), train_big AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bigrams WHERE is_test = 0 GROUP BY w1, w2
), train_uni AS (
  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM train_big GROUP BY w1
), vocab AS (
  SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM train_uni
), scored AS (
  SELECT CAST(ROUND(ln((COALESCE(tb.c12, 0) + 1.0)
                       / (COALESCE(tu.c1, 0) + vb.v))
                    * 1000000.0, 0) AS BIGINT) AS ll_micro
  FROM bigrams b
  CROSS JOIN vocab vb
  LEFT JOIN train_uni tu ON tu.w1 = b.w1
  LEFT JOIN train_big tb ON tb.w1 = b.w1 AND tb.w2 = b.w2
  WHERE b.is_test = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(ll_micro) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_ll_r,
       round(exp(-(CAST(SUM(ll_micro) AS DOUBLE) / 1000000.0
                   / COUNT(*))), 4) AS perplexity_r
FROM scored
""",
    tags=("lm", "eval"),
)
def q300_lm_perplexity_holdout(spark, sf_dir):
    """Held-out perplexity of a Laplace-smoothed bigram LM — THE
    language-modeling evaluation number, computed with a real
    train/test split (even doc ids train, odd evaluate) instead of
    q122's in-sample scoring: every held-out bigram's smoothed
    conditional log-probability is micro-fixed (exact-rational ln
    arguments — counts and vocab size), summed exactly, and
    exponentiated once at 4dp for the human-readable figure while
    avg_ll_r carries the engine-exact value. Unseen histories fall
    back to the uniform 1/V smooth via the same formula (c1=0). Two
    count shuffles for training, one posting join to score — the LM
    pipeline end to end (q103 builds merges, q121/q122 statistics,
    this the eval) without leaving the engine."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim("text")), r"\s+")
    toks = d.select(
        "doc_id", (F.col("doc_id") % 2).cast("int").alias("is_test"), ws.alias("ws")
    )
    bigrams = (
        toks.select(
            "is_test",
            F.explode(
                # sequence(1, 0) counts DOWN in Spark, so a <2-token doc
                # would index ws[1] out of bounds under ANSI — emit an
                # empty array for those docs instead (same guard as
                # functions/text.word_shingles).
                F.expr(
                    "CASE WHEN size(ws) < 2 THEN"
                    " CAST(array() AS array<struct<w1:string,w2:string>>) ELSE"
                    " transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2)) END"
                )
            ).alias("bg"),
        )
        .select("is_test", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .localCheckpoint(eager=False)
    )
    train_big = (
        bigrams.filter(F.col("is_test") == 0)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        .localCheckpoint(eager=False)
    )
    train_uni = train_big.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1")
    )
    vocab = train_uni.agg(
        F.count_distinct("w1").cast("bigint").alias("v")
    )
    test = bigrams.filter(F.col("is_test") == 1)
    scored = (
        test.crossJoin(F.broadcast(vocab))
        .join(train_uni, "w1", "left")
        .join(train_big, ["w1", "w2"], "left")
        .select(
            money(
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                ),
                6,
            )
            .alias("ll_micro")
        )
    )
    return scored.agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("ll_micro").cast("double") / 1e6 / F.count("*"), 6
        ).alias("avg_ll_r"),
        F.round(
            F.exp(
                -(F.sum("ll_micro").cast("double") / 1e6 / F.count("*"))
            ),
            4,
        ).alias("perplexity_r"),
    )


@query(
    "q331_vocab_churn",
    oracle="""
WITH tok AS (
  SELECT DISTINCT
         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS half,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), flags AS (
  SELECT token,
         MAX(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS in0,
         MAX(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS in1
  FROM tok WHERE token <> '' GROUP BY token
)
SELECT CAST(SUM(in0) AS BIGINT) AS vocab_a,
       CAST(SUM(in1) AS BIGINT) AS vocab_b,
       CAST(SUM(in0 * in1) AS BIGINT) AS n_retained,
       CAST(SUM(in1 * (1 - in0)) AS BIGINT) AS n_gained,
       CAST(SUM(in0 * (1 - in1)) AS BIGINT) AS n_lost,
       round(CAST(SUM(in0 * in1) AS DOUBLE)
             / (SUM(in0) + SUM(in1) - SUM(in0 * in1)), 6)
         AS vocab_jaccard_r
FROM flags
""",
    tags=("lm", "monitoring"),
)
def q331_vocab_churn(spark, sf_dir):
    """Vocabulary churn between two corpus slices (even vs odd doc
    ids, standing in for release N vs N+1): retained, gained, and
    lost token counts plus the vocabulary Jaccard — the cheap early
    alarm for distribution drift that token-level statistics catch
    before any model metric moves (a tokenizer's OOV rate next
    release is exactly this query's n_gained mass). One distinct
    (half, token) collapse, one membership-flag aggregate — the q244
    full-outer flag pattern done with conditional MAX on a single
    grouped pass instead of a join, because both sides live in one
    stream. Pure counts, nothing float until the final ratio."""
    d = table(spark, sf_dir, "documents")
    tok = (
        d.select(
            (F.col("doc_id") % 2).cast("int").alias("half"),
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "token"
            ),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    flags = tok.groupBy("token").agg(
        F.max(F.when(F.col("half") == 0, 1).otherwise(0)).alias("in0"),
        F.max(F.when(F.col("half") == 1, 1).otherwise(0)).alias("in1"),
    )
    shared = F.sum(F.col("in0") * F.col("in1"))
    return flags.agg(
        F.sum("in0").cast("bigint").alias("vocab_a"),
        F.sum("in1").cast("bigint").alias("vocab_b"),
        shared.cast("bigint").alias("n_retained"),
        F.sum(F.col("in1") * (1 - F.col("in0")))
        .cast("bigint")
        .alias("n_gained"),
        F.sum(F.col("in0") * (1 - F.col("in1")))
        .cast("bigint")
        .alias("n_lost"),
        F.round(
            shared.cast("double")
            / (F.sum("in0") + F.sum("in1") - shared),
            6,
        ).alias("vocab_jaccard_r"),
    )


@query(
    "q342_vocab_coverage_curve",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS f
  FROM tok WHERE token <> '' GROUP BY token
), ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, token) AS rk,
         CAST(SUM(f) OVER () AS BIGINT) AS total
  FROM freq
), spine AS (
  SELECT CAST(k.k AS BIGINT) AS vocab_size
  FROM (VALUES (100), (500), (1000), (5000), (20000)) k(k)
)
SELECT s.vocab_size,
       CAST(SUM(CASE WHEN r.rk <= s.vocab_size THEN r.f ELSE 0 END)
            AS BIGINT) AS covered_tokens,
       CAST(MIN(r.total) AS BIGINT) AS total_tokens,
       round(CAST(SUM(CASE WHEN r.rk <= s.vocab_size
                      THEN r.f ELSE 0 END) AS DOUBLE)
             / MIN(r.total), 6) AS coverage_r,
       round(1.0 - CAST(SUM(CASE WHEN r.rk <= s.vocab_size
                            THEN r.f ELSE 0 END) AS DOUBLE)
             / MIN(r.total), 6) AS oov_rate_r
FROM ranked r CROSS JOIN spine s
GROUP BY s.vocab_size
ORDER BY s.vocab_size
""",
    tags=("lm", "eval"),
)
def q342_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve — the tokenizer-sizing decision as a
    table: what share of all token OCCURRENCES does a top-k vocabulary
    cover, for five candidate sizes, with the complement as the OOV
    rate a word-level vocab of that size would eat. The q328 cache
    curve applied to language (both are Zipf coverage problems, which
    is WHY vocabularies saturate: q234 measured the exponent, this
    prices its consequence). One token-count shuffle, a deterministic
    frequency ranking, and the five cutoffs evaluated against the one
    ranked table via a broadcast spine. The knee of this curve is
    where subword methods take over from whole words — measurable per
    corpus, not folklore."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    freq = (
        d.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
                "token"
            )
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    w = Window.orderBy(F.col("f").desc(), "token")
    wt = Window.partitionBy()
    ranked = freq.select(
        "f",
        F.row_number().over(w).alias("rk"),
        F.sum("f").over(wt).cast("bigint").alias("total"),
    )
    spine = literal_frame(
        spark,
        [(100,), (500,), (1000,), (5000,), (20000,)], "vocab_size bigint"
    )
    covered = F.sum(
        F.when(F.col("rk") <= F.col("vocab_size"), F.col("f")).otherwise(0)
    ).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(spine))
        .groupBy("vocab_size")
        .agg(
            covered.alias("covered_tokens"),
            F.min("total").cast("bigint").alias("total_tokens"),
        )
        .select(
            "vocab_size",
            "covered_tokens",
            "total_tokens",
            F.round(
                F.col("covered_tokens").cast("double")
                / F.col("total_tokens"),
                6,
            ).alias("coverage_r"),
            F.round(
                1.0
                - F.col("covered_tokens").cast("double")
                / F.col("total_tokens"),
                6,
            ).alias("oov_rate_r"),
        )
        .orderBy("vocab_size")
    )


@query(
    "a344_good_turing",
    oracle="""
WITH tok AS (
  SELECT source,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents
), occ AS (
  SELECT source, token FROM tok WHERE token <> ''
), cnt AS (
  SELECT source, token, COUNT(*) AS c FROM occ GROUP BY source, token
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(c), 6) AS p0_unseen_r,
       CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) > 0 THEN
         round(2.0 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
               / SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END), 6)
       END AS r1_star_r
FROM cnt
GROUP BY source
ORDER BY source
""",
    tags=("lm", "quality"),
)
def a344_good_turing(spark, sf_dir):
    """Good-Turing unseen-mass estimate per source — the standard answer
    to "how much probability mass belongs to words this corpus has never
    seen", which is both an LM-smoothing input and a corpus-coverage
    health metric (a source whose singleton mass N1/N stays high as it
    grows is still mid-discovery; one near zero is saturated). Reports
    the frequency-of-frequencies head (N1, N2), the Turing unseen mass
    P0 = N1/N, and the Good-Turing adjusted count for singletons
    r1* = 2·N2/N1. Two map-side-combined shuffles — (source, token)
    counts, then the per-source frequency-of-frequency rollup over the
    TYPE table (vocabulary-sized, not corpus-sized); all ratios are
    exact-rational divisions of BIGINT counts rounded once, so the hash
    gate is deterministic at any scale."""
    d = table(spark, sf_dir, "documents")
    occ = d.select(
        "source",
        F.explode(tokens(F.lower(F.trim("text")))).alias("token"),
    )
    cnt = occ.groupBy("source", "token").agg(F.count("*").alias("c"))
    n1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    n2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint")
    return (
        cnt.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            n1.alias("n1"),
            n2.alias("n2"),
            F.round(
                n1.cast("double") / F.sum("c"), 6
            ).alias("p0_unseen_r"),
            F.when(
                n1 > 0, F.round(2.0 * n2 / n1, 6)
            ).alias("r1_star_r"),
        )
        .orderBy("source")
    )


_KN_DISCOUNT = 0.75  # fixed absolute discount; exact in binary floating point
_KN_TOP = 30


@query(
    "a345_kneser_ney",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
  FROM documents
), big AS (
  SELECT ws[i] AS w1, ws[i + 1] AS w2, COUNT(*) AS c12
  FROM tok, unnest(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE ws[i] <> '' AND ws[i + 1] <> ''
  GROUP BY w1, w2
), uni AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS fol1 FROM big GROUP BY w1
), cont AS (
  SELECT w2, COUNT(*) AS npre2 FROM big GROUP BY w2
), tot AS (
  SELECT COUNT(*) AS b FROM big
)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       round((greatest(c12 - {_KN_DISCOUNT}, 0) / c1)
             + (({_KN_DISCOUNT} * fol1 / c1)
                * (CAST(npre2 AS DOUBLE) / b)), 6) AS pkn_r
FROM big JOIN uni USING (w1) JOIN cont USING (w2) CROSS JOIN tot
ORDER BY c12 DESC, w1, w2
LIMIT {_KN_TOP}
""",
    tags=("lm",),
)
def a345_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities (fixed absolute
    discount D=0.75) — the smoothing that actually ships in n-gram LMs,
    built on CONTINUATION counts: the backoff weight for w2 is "how many
    distinct contexts w2 completes" over the total bigram-type count,
    not its raw frequency, which is exactly the statistic that demotes
    high-frequency-but-single-context tokens. One corpus-wide bigram
    count shuffle; the unigram, follower, and continuation tables are
    all aggregates OVER the bigram-type table (vocabulary-scale), and
    the type total rides in as a broadcast 1-row cross join. D=0.75 is
    exact in binary, counts are BIGINT, and the probability expression
    is evaluated in the same left-to-right shape in both engines, so
    round(·, 6) hashes identically. Top-30 by raw count keeps the
    output bounded at any corpus size."""
    d = table(spark, sf_dir, "documents")
    ws = F.split(F.lower(F.trim("text")), r"\s+")
    toks = d.select(ws.alias("ws"))
    big = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(ws) < 2 THEN"
                    " CAST(array() AS array<struct<w1:string,w2:string>>)"
                    " ELSE transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2)) END"
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=False)  # reused by uni + cont + tot + probe
    )
    uni = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("fol1")
    )
    cont = big.groupBy("w2").agg(F.count("*").alias("npre2"))
    tot = big.agg(F.count("*").alias("b"))
    d_lit = F.lit(_KN_DISCOUNT)
    pkn = F.round(
        (F.greatest(F.col("c12") - d_lit, F.lit(0.0)) / F.col("c1"))
        + (
            (d_lit * F.col("fol1") / F.col("c1"))
            * (F.col("npre2").cast("double") / F.col("b"))
        ),
        6,
    )
    return (
        big.join(uni, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", F.col("c12").cast("bigint").alias("c12"),
            pkn.alias("pkn_r"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(_KN_TOP)
    )


@query(
    "a359_token_fertility",
    oracle="""
WITH per_doc AS (
  SELECT lang, source,
         CAST(length(text) AS BIGINT) AS n_chars_txt,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok,
         CAST(COALESCE(list_sum(list_transform(
                list_filter(string_split_regex(trim(text), '\\s+'),
                            x -> x <> ''),
                x -> length(x))), 0) AS BIGINT) AS tok_chars
  FROM documents
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       round(CAST(SUM(n_chars_txt) AS DOUBLE) / SUM(n_tok), 6)
         AS chars_per_token_r,
       round(CAST(SUM(tok_chars) AS DOUBLE) / SUM(n_tok), 6)
         AS avg_token_len_r,
       round(CAST(SUM(n_tok) AS DOUBLE) * 100.0 / SUM(n_chars_txt), 6)
         AS tokens_per_100_chars_r
FROM per_doc
GROUP BY lang, source
ORDER BY lang, source
""",
    tags=("lm", "tokenizer"),
)
def a359_token_fertility(spark, sf_dir):
    """Tokenizer fertility by (lang, source) — the budgeting number
    behind context-length and cost planning: how many tokens a unit of
    raw text becomes (tokens per 100 chars), plus mean token length
    and the chars-per-token inverse. High fertility for a language
    means its documents eat disproportionate context — the signal that
    drives per-language vocab allocation (q342's coverage curves pick
    the vocab; this prices the corpus). All three ratios are exact
    BIGINT-sum divisions rounded once; per-doc token stats come from
    one codegen projection (size + aggregate over the token array — no
    explode, the array never leaves the row), one aggregate shuffle
    total."""
    d = table(spark, sf_dir, "documents")
    toks = tokens("text")
    per_doc = d.select(
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars_txt"),
        F.size(toks).cast("bigint").alias("n_tok"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("tok_chars"),
    )
    return (
        per_doc.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_chars_txt").cast("double") / F.sum("n_tok"), 6
            ).alias("chars_per_token_r"),
            F.round(
                F.sum("tok_chars").cast("double") / F.sum("n_tok"), 6
            ).alias("avg_token_len_r"),
            F.round(
                F.sum("n_tok").cast("double") * 100.0 / F.sum("n_chars_txt"),
                6,
            ).alias("tokens_per_100_chars_r"),
        )
        .orderBy("lang", "source")
    )


_FH_BUCKETS = 256


@query(
    "a409_hash_collision_audit",
    oracle=f"""
WITH vocab AS (
  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\\s+'))
         AS token
  FROM documents
), clean AS (
  SELECT token FROM vocab WHERE token <> ''
), hashed AS (
  SELECT token,
         ('0x' || substr(md5('fh|' || token), 1, 8))::BIGINT
           % {_FH_BUCKETS} AS bucket
  FROM clean
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_occupied
  FROM hashed
)
SELECT n_tokens, n_occupied,
       round({_FH_BUCKETS}.0
             * (1.0 - pow(1.0 - 1.0 / {_FH_BUCKETS}, n_tokens)), 6)
         AS expected_occupied_r,
       round(CAST(n_tokens - n_occupied AS DOUBLE) / n_tokens, 6)
         AS collision_frac_r
FROM m
""",
    tags=("lm", "hashing"),
)
def a409_hash_collision_audit(spark, sf_dir):
    """Feature-hashing collision audit — before trusting q196's
    hashing-trick vectors, measure what the trick costs: the distinct
    vocabulary hashed into {_FH_BUCKETS} buckets, observed occupied
    buckets vs the analytic birthday expectation m(1−(1−1/m)ⁿ), and
    the fraction of tokens sharing a bucket (each collision aliases
    two features onto one weight). Observed counts are exact integers
    off one vocabulary aggregate; the expectation is one pow() on an
    integer-valued exponent — deterministic cross-engine (the a399
    recipe). When observed occupancy lands far BELOW expectation the
    hash is biased, which is the audit's second job."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.select(
            F.explode(tokens(F.lower(F.trim("text")))).alias("token")
        )
        .distinct()
    )
    hashed = vocab.select(
        md5_bits(F.concat(F.lit("fh|"), "token"), 8).alias("h")
    ).select(F.pmod("h", F.lit(_FH_BUCKETS)).alias("bucket"))
    m = hashed.agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.count_distinct("bucket").cast("bigint").alias("n_occupied"),
    )
    return m.select(
        "n_tokens",
        "n_occupied",
        F.round(
            F.lit(float(_FH_BUCKETS))
            * (
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0 - 1.0 / _FH_BUCKETS), F.col("n_tokens")
                )
            ),
            6,
        ).alias("expected_occupied_r"),
        F.round(
            (F.col("n_tokens") - F.col("n_occupied")).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("collision_frac_r"),
    )


@query(
    "a561_textrank_keywords",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
), bigrams AS (
  SELECT doc_id, ts[i] AS t1, ts[i + 1] AS t2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
  WHERE len(ts) >= 2
), ew AS (
  SELECT LEAST(t1, t2) AS a, GREATEST(t1, t2) AS b,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM bigrams WHERE t1 <> t2
  GROUP BY a, b
), adj AS (
  SELECT a AS node, b AS nbr, w FROM ew
  UNION ALL
  SELECT b AS node, a AS nbr, w FROM ew
), wdeg AS (
  SELECT node, CAST(SUM(w) AS BIGINT) AS wd FROM adj GROUP BY node
), contrib AS (
  SELECT adj.nbr AS token,
         CAST(ROUND(1000000.0 * adj.w / d.wd, 0) AS BIGINT) AS c_micro
  FROM adj JOIN wdeg d ON d.node = adj.node
), score AS (
  SELECT token, CAST(SUM(c_micro) AS BIGINT) AS in_micro
  FROM contrib GROUP BY token
)
SELECT s.token, d.wd AS weighted_degree,
       round(0.15 + 0.85 * (s.in_micro / 1e6), 6) AS textrank_r
FROM score s JOIN wdeg d ON d.node = s.token
ORDER BY textrank_r DESC, s.token
LIMIT 20
""",
    tags=("lm", "graph"),
)
def a561_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction — one damped PageRank step over the
    token co-occurrence graph (adjacent-token edges, weight = corpus
    bigram count), from the uniform initial score: s(t) = 0.15 +
    0.85·Σ_nbr w(nbr,t)/wdeg(nbr). This is the graph-centrality
    keyword scorer that complements frequency-based TF-IDF (q87) and
    BM25 (q102): a token ranks high when its NEIGHBORS spread their
    mass to it, not when it is merely common. Iterating the step =
    full TextRank (the q249 driver-side pattern). Determinism: each
    neighbor contribution w/wdeg is an exact rational micro-rounded to
    BIGINT before the order-independent sum; the only doubles are the
    final damped affine map. Plan: one bigram explode (map-side), one
    edge aggregate, one degree aggregate, one contribution join —
    vocabulary-sized tables after the first shuffle at any corpus
    scale."""
    d = table(spark, sf_dir, "documents")
    from ..operators.core import ensure_parallelism

    toks = ensure_parallelism(d).select(
        "doc_id", tokens("text").alias("ts")
    ).filter(F.size("ts") >= 2)
    bigrams = toks.select(
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(ts) - 1),"
                " i -> struct(element_at(ts, i) AS t1,"
                "             element_at(ts, i + 1) AS t2))"
            )
        ).alias("p", "bg")
    ).select(F.col("bg.t1").alias("t1"), F.col("bg.t2").alias("t2"))
    ew = (
        bigrams.filter(F.col("t1") != F.col("t2"))
        .groupBy(
            F.least("t1", "t2").alias("a"),
            F.greatest("t1", "t2").alias("b"),
        )
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    adj = ew.select(
        F.col("a").alias("node"), F.col("b").alias("nbr"), "w"
    ).unionAll(
        ew.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
    ).localCheckpoint(eager=False)
    wdeg = adj.groupBy("node").agg(
        F.sum("w").cast("bigint").alias("wd")
    ).localCheckpoint(eager=False)
    contrib = adj.join(wdeg, "node").select(
        F.col("nbr").alias("token"),
        F.round(1000000.0 * F.col("w") / F.col("wd"), 0)
        .cast("bigint")
        .alias("c_micro"),
    )
    score = contrib.groupBy("token").agg(
        F.sum("c_micro").cast("bigint").alias("in_micro")
    )
    return (
        score.join(wdeg.withColumnRenamed("node", "token"), "token")
        .select(
            "token",
            F.col("wd").alias("weighted_degree"),
            F.round(0.15 + 0.85 * (F.col("in_micro") / 1e6), 6).alias(
                "textrank_r"
            ),
        )
        .orderBy(F.col("textrank_r").desc(), "token")
        .limit(20)
    )


@query(
    "a425_chao1_richness",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), freq AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM tok GROUP BY source, tok
), cls AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq GROUP BY source
)
SELECT source, vocab, f1, f2,
       round(vocab + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6)
         AS chao1_r,
       round(CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1))
             / (vocab + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1))),
             6) AS unseen_frac_r
FROM cls
ORDER BY source
""",
    tags=("lm", "stats"),
)
def a425_chao1_richness(spark, sf_dir):
    """Chao1 species-richness estimate of each source's vocabulary —
    the lower bound on TRUE vocabulary size from singleton/doubleton
    counts (Chao's bias-corrected V + f₁(f₁−1)/(2(f₂+1))), answering
    the curation question Good-Turing (a344) dualizes: a344 estimates
    the probability mass of unseen TOKENS, Chao1 estimates how many
    unseen TYPES remain — i.e. how much more vocabulary another crawl
    of this source would surface. All inputs are exact integer
    frequency-of-frequency counts off one (source, token) aggregate;
    the estimator is a single closed-form double per source. The
    frequency table is vocabulary-sized — corpus row count never
    reaches the statistics."""
    d = table(spark, sf_dir, "documents")
    from ..operators.core import ensure_parallelism

    freq = (
        ensure_parallelism(d)
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    cls = freq.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vocab"),
        F.sum((F.col("f") == 1).cast("int")).cast("bigint").alias("f1"),
        F.sum((F.col("f") == 2).cast("int")).cast("bigint").alias("f2"),
    )
    extra = (
        F.col("f1").cast("double")
        * (F.col("f1") - 1)
        / (2.0 * (F.col("f2") + 1))
    )
    return cls.select(
        "source",
        "vocab",
        "f1",
        "f2",
        F.round(F.col("vocab") + extra, 6).alias("chao1_r"),
        F.round(extra / (F.col("vocab") + extra), 6).alias("unseen_frac_r"),
    ).orderBy("source")


@query(
    "a453_huffman_code_audit",
    oracle="""
WITH RECURSIVE tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS t
  FROM documents
), freq AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS w FROM tok WHERE t != ''
  GROUP BY t
), base AS (
  SELECT list_sort(list(w)) AS ws,
         CAST(COUNT(*) AS BIGINT) AS v,
         CAST(SUM(w) AS BIGINT) AS n
  FROM freq
), it(k, ws, acc, v, n) AS (
  SELECT 0, ws, CAST(0 AS BIGINT), v, n FROM base
  UNION ALL
  SELECT k + 1,
         list_sort(list_append(ws[3:], ws[1] + ws[2])),
         acc + ws[1] + ws[2],
         v, n
  FROM it WHERE k < v - 1
), fin AS (
  SELECT acc, v, n FROM it WHERE k = v - 1
), ent AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(CAST(f.w AS DOUBLE) / b.n)
             * log2(CAST(f.w AS DOUBLE) / b.n) * 1000000000000.0, 0)
           AS BIGINT)) AS BIGINT) AS h_fp
  FROM freq f CROSS JOIN base b
)
SELECT f.v AS vocab_size, f.n AS total_tokens,
       f.acc AS huffman_total_bits,
       round(CAST(f.acc AS DOUBLE) / f.n, 6) AS huffman_bits_per_tok_r,
       round(e.h_fp / 1000000000000.0, 6) AS entropy_bits_r,
       round((e.h_fp / 1000000000000.0)
             / (CAST(f.acc AS DOUBLE) / f.n), 6) AS efficiency_r
FROM fin f CROSS JOIN ent e
""",
    tags=("lm", "coding"),
)
def a453_huffman_code_audit(spark, sf_dir):
    """Optimal prefix-code (Huffman) audit of the token distribution
    — how many bits/token would the optimal symbol code spend, versus
    the Shannon entropy lower bound? The gap (efficiency < 1) is the
    integer-bit-length overhead, the source-coding companion to the
    zlib compressibility signal (a389 measures one concrete coder;
    this measures the best possible symbol coder). The classic trick
    makes tree bookkeeping vanish: total Huffman cost = Σ of merged
    weights over the n−1 merges, so the whole build is a fold on the
    SORTED weight list — merge the two smallest, re-insert the sum,
    accumulate. That loop runs in JVM higher-order functions over one
    collected frequency row (exact BIGINT weights, bounded by the
    vocabulary — cap vocab at top-K for web-scale corpora, as the LM
    estimators do), with the oracle replaying identical integer
    merges in a WITH RECURSIVE step. Entropy terms are per-token
    fixed-pointed before the vocab-scale sum. Corpus is touched once
    for term frequencies; everything after is O(vocab log vocab)."""
    from ..functions.text import tokens
    from ..operators.core import ensure_parallelism

    d = ensure_parallelism(table(spark, sf_dir, "documents"))
    freq = (
        d.select(F.explode(tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("w"))
        .localCheckpoint(eager=False)
    )
    base = freq.agg(
        F.array_sort(F.collect_list("w")).alias("ws"),
        F.count("*").cast("bigint").alias("v"),
        F.sum("w").cast("bigint").alias("n"),
    )
    # n-1 merges: acc accumulates the merged weight at every step ==
    # total weighted code length of the optimal prefix code
    merged = F.aggregate(
        F.sequence(F.lit(1), (F.col("v") - 1).cast("int")),
        F.struct(
            F.col("ws").alias("ws"), F.lit(0).cast("bigint").alias("acc")
        ),
        lambda st, _: F.struct(
            F.array_sort(
                F.array_append(
                    F.slice(st["ws"], 3, F.greatest(F.size(st["ws"]) - 2, F.lit(0))),
                    F.get(st["ws"], 0) + F.get(st["ws"], 1),
                )
            ).alias("ws"),
            (st["acc"] + F.get(st["ws"], 0) + F.get(st["ws"], 1)).alias("acc"),
        ),
    )
    fin = base.select("v", "n", merged["acc"].alias("acc"))
    p = F.col("w").cast("double") / F.col("n")
    ent = (
        freq.crossJoin(F.broadcast(base.select("n")))
        .select(money(-p * F.log2(p), 12).alias("term_fp"))
        .agg(F.sum("term_fp").cast("bigint").alias("h_fp"))
    )
    return fin.crossJoin(F.broadcast(ent)).select(
        F.col("v").alias("vocab_size"),
        F.col("n").alias("total_tokens"),
        F.col("acc").alias("huffman_total_bits"),
        F.round(F.col("acc").cast("double") / F.col("n"), 6).alias(
            "huffman_bits_per_tok_r"
        ),
        F.round(F.col("h_fp") / 1000000000000.0, 6).alias("entropy_bits_r"),
        F.round(
            (F.col("h_fp") / 1000000000000.0)
            / (F.col("acc").cast("double") / F.col("n")),
            6,
        ).alias("efficiency_r"),
    )
