"""Unit tests for the reusable operator layer on small synthetic frames."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from grouper_spark.functions.text import (
    md5_bits,
    money,
    tokens,
    word_ngrams,
    word_shingles,
)
from grouper_spark.functions.vector import cosine_similarity, l2_norm, unit_fixed
from grouper_spark.operators import (
    ann_topk_bruteforce,
    asof_join,
    canonicalize_exact,
    sessionize,
    shingle_jaccard_pairs,
    simhash_pairs,
    topk_per_group,
)


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 2), ("b", 9), ("b", 7)], ["k", "v"]
    )
    out = topk_per_group(df, ["k"], [F.col("v").desc()], k=2)
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert got == {("a", 3), ("a", 2), ("b", 9), ("b", 7)}


def test_asof_join_backward(spark):
    ts = datetime
    left = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1, 10, 0), "L1"),
            (1, ts(2024, 1, 1, 12, 0), "L2"),
            (2, ts(2024, 1, 1, 9, 0), "L3"),
        ],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1, 9, 30), 100.0),
            (1, ts(2024, 1, 1, 11, 0), 200.0),
            (2, ts(2024, 1, 1, 9, 30), 300.0),  # after L3: no match
        ],
        ["k", "ts", "val"],
    )
    out = asof_join(left, right, on="k", right_values=["val"], suffix="_r")
    got = {r["tag"]: r["val_r"] for r in out.collect()}
    assert got == {"L1": 100.0, "L2": 200.0, "L3": None}


def test_asof_join_exact_tie_matches(spark):
    ts = datetime
    left = spark.createDataFrame([(1, ts(2024, 1, 1, 10, 0), "L")], ["k", "ts", "tag"])
    right = spark.createDataFrame([(1, ts(2024, 1, 1, 10, 0), 7.0)], ["k", "ts", "val"])
    out = asof_join(left, right, on="k", right_values=["val"])
    assert out.collect()[0]["val_asof"] == 7.0  # "<=" semantics


def test_sessionize_gap(spark):
    ts = datetime
    df = spark.createDataFrame(
        [
            (1, 1, ts(2024, 1, 1, 10, 0)),
            (1, 2, ts(2024, 1, 1, 10, 10)),  # same session (<30min)
            (1, 3, ts(2024, 1, 1, 11, 0)),  # new session (50min gap)
            (2, 4, ts(2024, 1, 1, 10, 0)),
        ],
        ["user", "eid", "ts"],
    )
    out = sessionize(df, key="user", ts="ts", gap_seconds=1800, tiebreak="eid")
    got = {r["eid"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_canonicalize_exact(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["id", "text"]
    )
    out = canonicalize_exact(df, "id", "text")
    got = {r["id"]: (r["canonical_id"], r["is_dup"]) for r in out.collect()}
    # normalization (lowercase, collapsed whitespace) makes 1 and 2 dups
    assert got == {1: (1, 0), 2: (1, 1), 3: (3, 0)}


def test_shingle_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")], ["id", "text"]
    )
    out = shingle_jaccard_pairs(df, "id", "text", n=3).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["doc_a"], row["doc_b"], row["jaccard"]) == (1, 2, 1.0)


def test_shingle_jaccard_max_df_drops_stop_shingles(spark):
    # Pathological corpus: every doc shares one sentence (a corpus-wide
    # stop-shingle) plus unique content; two docs are true near-dups.
    shared = "the quick brown fox jumps"
    rows = [(i, f"{shared} unique{i} filler{i} tail{i}") for i in range(1, 21)]
    rows.append((21, rows[0][1]))  # exact dup of doc 1
    df = spark.createDataFrame(rows, ["id", "text"])
    # Uncapped: the shared shingles put all 21 docs in one bucket → 210 pairs.
    assert shingle_jaccard_pairs(df, "id", "text", n=3).count() == 21 * 20 // 2
    # Capped at df<=2: corpus-wide shingles dropped before posting lists,
    # only the true dup pair (sharing rare shingles) survives.
    capped = shingle_jaccard_pairs(df, "id", "text", n=3, max_df=2).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in capped] == [(1, 21)]
    # Sizes stay uncapped; inter counts only surviving shingles.
    assert capped[0]["size_a"] == capped[0]["size_b"]
    assert 0 < capped[0]["jaccard"] <= 1.0


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "a b c")], ["id", "text"])
    out = df.select("id", word_shingles("text", 3).alias("sh")).collect()
    got = {r["id"]: r["sh"] for r in out}
    assert got[1] == []  # fewer words than n → empty, not a descending range
    assert got[2] == ["a b c"]


def test_simhash_pairs_detects_identical(spark):
    df = spark.createDataFrame(
        [(1, "spark query engine fast"), (2, "spark query engine fast"),
         (3, "completely different words here")],
        ["id", "text"],
    )
    out = simhash_pairs(df, "id", "text", bits=16, max_hamming=3)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    assert got.get((1, 2)) == 0
    assert all(k == (1, 2) for k in got)


def test_ann_bruteforce_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [1.0, 0.01, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    out = ann_topk_bruteforce(df, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [4, 2]  # by cosine desc
    assert all(r["query_id"] == 1 for r in out)


def test_cosine_similarity_column(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], ["a", "b"])
    val = df.select(cosine_similarity("a", "b").alias("c")).collect()[0]["c"]
    assert abs(val) < 1e-12


def test_money_fixed_point(spark):
    df = spark.createDataFrame([(1.005,), (2.675,), (0.1,)], ["x"])
    got = [r["m"] for r in df.select(money("x").alias("m")).collect()]
    # IEEE: 1.005*100 → 100.49999999999999 (rounds down), but 2.675*100 →
    # exactly 267.5 (rounds half-away to 268). DuckDB agrees on both —
    # verified bit-identical behavior, which is what the oracle relies on.
    assert got == [100, 268, 10]


@pytest.mark.parametrize("scale", [2, 6, 9, 12])
def test_money_is_the_inline_quantiser(spark, scale):
    for col, expr in [("x", F.col("x")), (F.col("a") - F.col("b"),) * 2]:
        inline = F.round(expr * float(10**scale), 0).cast("bigint")
        assert str(money(col, scale)) == str(inline)


def _inline_quantisers(root):
    """``F.round(X * <power-of-ten float>, 0).cast("bigint")`` call sites
    under ``root``, with the float bare or wrapped in ``F.lit``: the
    quantiser ``money(X, k)`` builds, written out."""
    import ast
    import math
    from pathlib import Path

    def is_f(node, name):
        return (
            isinstance(node, ast.Attribute)
            and node.attr == name
            and isinstance(node.value, ast.Name)
            and node.value.id == "F"
        )

    def power_of_ten(node):
        if isinstance(node, ast.Call) and is_f(node.func, "lit") and node.args:
            node = node.args[0]
        if not (isinstance(node, ast.Constant) and isinstance(node.value, float)):
            return False
        return node.value >= 10 and node.value == 10.0 ** round(math.log10(node.value))

    sites = []
    for path in sorted(Path(root).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "cast"
                and [getattr(a, "value", None) for a in node.args] == ["bigint"]
                and isinstance(node.func.value, ast.Call)
                and is_f(node.func.value.func, "round")
            ):
                continue
            args = node.func.value.args
            if (
                len(args) == 2
                and getattr(args[1], "value", None) == 0
                and isinstance(args[0], ast.BinOp)
                and isinstance(args[0].op, ast.Mult)
                and power_of_ten(args[0].right)
            ):
                sites.append(f"{path}:{node.lineno}")
    return sites


def test_no_inline_fixed_point_quantiser():
    """Fixed-point terms go through ``functions.money``, never a hand-
    written copy of its expression (Spark-free: an AST scan)."""
    from pathlib import Path

    import grouper_spark

    assert _inline_quantisers(Path(grouper_spark.__file__).parent) == []


def test_inline_quantiser_scan_sees_every_spelling(tmp_path):
    (tmp_path / "m.py").write_text(
        "a = F.round(F.col('x') * 100.0, 0).cast('bigint')\n"
        "b = F.sum(F.round(\n    (x - y) * 1e9,\n    0,\n).cast(\"bigint\"))\n"
        "c = F.round(x * 1_000_000.0, 0).cast('bigint')\n"
        "d = F.round(x * 100, 0).cast('bigint')\n"  # int literal: another plan
        "e = F.round(x * 110.0, 0).cast('bigint')\n"
        "f = F.round(x, 0).cast('bigint')\n"
        "g = F.round(x * F.lit(1000.0), 0).cast('bigint')\n"
        "h = F.round(x * F.lit(1000), 0).cast('bigint')\n"  # int: another plan
    )
    lines = sorted(int(s.rsplit(":", 1)[1]) for s in _inline_quantisers(tmp_path))
    assert lines == [1, 2, 6, 10]


def test_sql_double_renders_the_round_trip_literal():
    import numpy as np

    from grouper_spark.functions.vector import sql_double

    for x in (0.1, -1.5e-07, 0.123456, 3.0):
        assert sql_double(x) == f"CAST('{x!r}' AS DOUBLE)"
        assert sql_double(np.float64(x)) == sql_double(x)
        assert float(sql_double(np.float32(x))[6:-12]) == float(np.float32(x))


def test_tokens_empty_and_spaces(spark):
    df = spark.createDataFrame([("",), ("   ",), (" a  b ",)], ["t"])
    got = [r["n"] for r in df.select(F.size(tokens("t")).alias("n")).collect()]
    assert got == [0, 0, 2]


def test_ivf_ann_exact_when_probing_all_cells(spark):
    from grouper_spark.operators import ivf_ann

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [1.0, 0.01, 0.0]),
        (5, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 1)
    # n_probe == n_cells ⇒ every cell probed ⇒ must equal brute force
    out = ivf_ann(df, q, k=2, n_cells=3, n_probe=3).collect()
    assert [r["neighbor_id"] for r in out] == [4, 2]
    assert all(r["query_id"] == 1 for r in out)


def test_ivf_ann_partial_probe_subset_of_bruteforce_scores(spark):
    from grouper_spark.operators import ivf_ann

    rows = [(i, [float((i * 7 + j * 3) % 11), float((i * 5 + j) % 7), float(i % 3)])
            for i in range(20) for j in [0]]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") < 2)
    out = ivf_ann(df, q, k=3, n_cells=4, n_probe=2).collect()
    # approximate: every returned neighbor must carry its true cosine and
    # per-query result sets stay within k, deterministically ordered
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in ann_topk_bruteforce(df, q, k=20).collect()
    }
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact and abs(exact[key] - r["cosine"]) < 1e-9
    assert all(len(v) <= 3 for v in per_q.values())


def test_dedup_clusters_transitive_chain(spark):
    from grouper_spark.operators import dedup_clusters

    # a~b and b~c share 3-gram shingles; a~c share none directly —
    # transitivity must still put all three in one cluster
    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta other words"),
        (3, "gamma delta other words more here"),
        (4, "completely unrelated text with no overlap at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc"]: r["cluster_id"] for r in
           dedup_clusters(df, "doc_id", "text", threshold=0.2).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4


def test_dedup_clusters_long_chain_pointer_jumping(spark):
    from grouper_spark.operators import dedup_clusters

    # doc i shares a 3-gram window with doc i+1 only → a 12-long chain.
    # Plain min-propagation needs ~11 rounds; pointer jumping must
    # converge within 6, or raise.
    words = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(12):
        seg = words[i * 3 : i * 3 + 6]  # overlaps next doc by 3 words
        docs.append((i + 1, " ".join(seg)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = dedup_clusters(df, "doc_id", "text", threshold=0.1, max_iters=6)
    labels = {r["doc"]: r["cluster_id"] for r in out.collect()}
    assert set(labels.values()) == {1}


def test_merge_intervals_matches_bruteforce(spark):
    """merge_intervals vs a python sweep over 100 seeded-random keys —
    overlap, containment, touching (merges), duplicates, and singleton
    cases all land in one comparison."""
    import random

    from grouper_spark.operators import merge_intervals

    rng = random.Random(42)
    rows = []
    for k in range(100):
        for _ in range(rng.randint(1, 12)):
            s = rng.randint(0, 60)
            rows.append((k, s, s + rng.randint(1, 15)))

    def brute(intervals):
        out = []
        for s, e in sorted(intervals):
            if out and s <= out[-1][1]:
                out[-1] = (out[-1][0], max(out[-1][1], e), out[-1][2] + 1)
            else:
                out.append((s, e, 1))
        return out

    expected = []
    for k in sorted({r[0] for r in rows}):
        for s, e, n in brute([(s, e) for kk, s, e in rows if kk == k]):
            expected.append((k, s, e, n))

    df = spark.createDataFrame(rows, "k int, s int, e int")
    got = sorted(
        (r["k"], r["island_start"], r["island_end"], r["n_intervals"])
        for r in merge_intervals(df, "k", "s", "e").collect()
    )
    assert got == sorted(expected)


def test_arrow_l2_norms_ragged_and_empty(spark):
    """The Arrow kernel must handle ragged dims and empty vectors: the
    reduceat segmented sum has a quirk where an empty segment yields the
    neighboring element instead of 0."""
    import math

    from grouper_spark.operators.similarity import arrow_l2_norms

    rows = [
        (1, [3.0, 4.0]),          # norm 5
        (2, []),                  # empty -> norm 0
        (3, [1.0]),               # singleton
        (4, [2.0, 2.0, 2.0, 2.0]),  # norm 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["id"]: (r["dim"], r["norm_fp"])
        for r in arrow_l2_norms(df).collect()
    }
    assert got[1] == (2, 5_000_000)
    assert got[2] == (0, 0)
    assert got[3] == (1, 1_000_000)
    assert got[4] == (4, 4_000_000)
    assert math.isclose(got[1][1] / 1e6, 5.0)


def test_cooccurrence_pairs_basic(spark):
    from grouper_spark.operators import cooccurrence_pairs

    rows = [
        (1, "a", "d1"), (2, "a", "d1"),          # pair (1,2) via (a,d1)
        (1, "b", "d1"), (2, "b", "d1"),          # pair (1,2) again via (b,d1)
        (3, "a", "d2"),                          # alone in its bucket
    ]
    df = spark.createDataFrame(rows, "uid long, et string, d string")
    got = {
        (r["u"], r["v"]): r["i"]
        for r in cooccurrence_pairs(df, "uid", ["et", "d"]).collect()
    }
    assert got == {(1, 2): 2}


def test_cooccurrence_pairs_hot_bucket_is_dropped(spark):
    """One ubiquitous bucket (every user on one (event_type, day)) must
    be excluded before the pair self-join: with max_bucket below the hot
    bucket's size, zero candidate pairs come out of it, so the pair
    stage is bounded instead of O(users²)."""
    from grouper_spark.operators import cooccurrence_pairs

    n = 500
    hot = [(u, "click", "d1") for u in range(n)]          # one hot bucket
    cold = [(1, "buy", "d2"), (2, "buy", "d2")]           # one small bucket
    df = spark.createDataFrame(hot + cold, "uid long, et string, d string")

    capped = cooccurrence_pairs(df, "uid", ["et", "d"], max_bucket=100)
    got = {(r["u"], r["v"]): r["i"] for r in capped.collect()}
    # the n*(n-1)/2 hot-bucket pairs are gone; only the cold pair remains
    assert got == {(1, 2): 1}

    # uncapped control: the hot bucket expands to n*(n-1)/2 pairs (the
    # cold (1,2) pair groups into its hot-bucket row, not a new one)
    assert cooccurrence_pairs(df, "uid", ["et", "d"]).count() == n * (n - 1) // 2


def test_tfidf_knn_hot_token_is_dropped(spark):
    """VERDICT r3: one stop token in every doc makes the uncapped token
    join O(docs²) — with max_df below the hot token's df, zero candidate
    pairs come from it, so the pair stage is bounded. Sub-cap tokens
    still pair their docs, with the hot token excluded from norms on
    both sides (so same-group cosines are exactly 1.0)."""
    from grouper_spark.operators import tfidf_knn

    n = 60
    docs = [(i, f"hot t{i % 3}") for i in range(n)]  # 'hot' df=60, t* df=20
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = tfidf_knn(df, k=3, max_df=20)
    rows = capped.collect()
    # every surviving pair shares its t-group token and nothing else:
    # vectors are the single token t_g, so cosine is exactly 1.0
    assert rows, "sub-cap tokens must still produce neighbors"
    assert all(r["cosine_r"] == 1.0 for r in rows)
    pair_groups = {(r["doc_a"] % 3, r["doc_b"] % 3) for r in rows}
    assert all(a == b for a, b in pair_groups)

    # uncapped control: the hot token alone connects EVERY doc pair
    # (n*(n-1), quadratic in the corpus) on top of the t-group pairs
    uncapped_candidates = n * (n - 1) + 3 * 20 * 19
    assert _tfidf_candidate_count(spark, df) == uncapped_candidates
    # with the cap, candidates come only from the three t-groups
    assert _tfidf_candidate_count(spark, df, max_df=20) == 3 * 20 * 19


def _tfidf_candidate_count(spark, df, max_df=None):
    """Count pre-topk candidate pairs the token join generates (the
    quantity max_df exists to bound)."""
    from pyspark.sql import functions as F

    from grouper_spark.functions.text import tokens as _tokens

    tok = df.select("doc_id", F.explode(_tokens("text")).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("tok").agg(F.count("*").alias("df"))
    if max_df is not None:
        idf = idf.filter(F.col("df") <= max_df)
    w = tf.join(idf, "tok")
    a = w.select(F.col("doc_id").alias("doc_a"), "tok")
    b = w.select(F.col("doc_id").alias("doc_b"), "tok")
    return a.join(b, "tok").filter(F.col("doc_a") != F.col("doc_b")).count()


def test_asof_join_tolerance_nulls_stale_matches(spark):
    """tolerance_s: a backward match older than the bound is treated as
    no match (all carried columns null together)."""
    from datetime import datetime as ts

    from grouper_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, ts(2024, 1, 1, 10, 0), "fresh"), (1, ts(2024, 1, 1, 12, 0), "stale")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, ts(2024, 1, 1, 9, 59), 7.0)], ["k", "ts", "val"]
    )
    got = {
        r["tag"]: (r["ts_asof"], r["val_asof"])
        for r in asof_join(
            left, right, on="k", right_values=["val"], tolerance_s=600
        ).collect()
    }
    assert got["fresh"] == (ts(2024, 1, 1, 9, 59), 7.0)
    assert got["stale"] == (None, None)


# Reference builders: the per-element formulations the shared kernels
# replaced. Their lambdas re-evaluate the outer token array / norm per
# element (O(w²) / O(d²)), but their rows are the contract.
def _ref_tokens(col):
    return F.filter(F.split(F.trim(F.col(col)), r"\s+"), lambda t: t != "")


def _ref_ngrams(col, n):
    toks = _ref_tokens(col)
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )


def _ref_shingles(col, n):
    toks = _ref_tokens(col)
    k = F.size(toks) - F.lit(n - 1)
    return F.when(k < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )


_ADVERSARIAL_TEXTS = [
    "",
    None,
    "   ",
    "\t\n",
    "a",
    "a b",
    "a b c",
    "a\tb\nc  d",
    " lead and trail ",
    "nbsp\u00a0inside a word",
    "漢字 かな 漢字 かな 漢字",
    "a a a a a a b a b a b",
    " ".join(f"w{i % 17}" for i in range(120)),
]


def test_word_kernels_match_reference_builders(spark):
    df = spark.createDataFrame(
        list(enumerate(_ADVERSARIAL_TEXTS)), "id int, text string"
    )

    def rows(col):
        return df.select("id", col.alias("x")).orderBy("id").collect()

    assert rows(tokens("text")) == rows(_ref_tokens("text"))
    for n in (1, 2, 3, 5, 8):
        assert rows(word_ngrams(tokens("text"), n)) == rows(
            _ref_ngrams("text", n)
        ), n
        assert rows(word_shingles("text", n)) == rows(
            _ref_shingles("text", n)
        ), n


def test_word_shingles_plan_tokenizes_once(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    plan = (
        df.select(word_shingles("text", 3).alias("s"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, plan


def test_unit_fixed_matches_inline_quantiser(spark, sf_dir):
    from grouper_spark.sources import table

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = l2_norm(F.col("v"))
    ref = F.transform(
        "v", lambda x: F.round(1000.0 * x / norm, 0).cast("bigint")
    )
    got = e.select("vec_id", unit_fixed("v", 1000.0).alias("u"))
    want = e.select("vec_id", ref.alias("u"))
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_unit_fixed_plan_has_one_norm_outside_the_lambda(spark):
    df = spark.createDataFrame([(1, [3.0, 4.0])], "id int, v array<double>")
    plan = (
        df.select(unit_fixed("v", 1000.0).alias("u"))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("aggregate(") == 1, plan
    assert "array_repeat(SQRT(aggregate(" in plan, plan
    assert df.select(unit_fixed("v", 1000.0)).first()[0] == [600, 800]


def test_md5_bits_is_the_hand_rolled_expression(spark):
    a, b = 7, 6  # a non-literal (start, digits) pair, as q222 passes them
    for col, digits, start in [
        (F.col("c"), 15, 1),
        ("tok", 1, 9),
        (F.col("id").cast("string"), b, a),
    ]:
        hand = F.conv(F.substring(F.md5(col), start, digits), 16, 10)
        got = md5_bits(col, digits) if start == 1 else md5_bits(col, digits, start)
        assert str(got) == str(hand.cast("bigint"))


def _fold_sign_bucket(v, planes):
    bucket = 0
    for i, p in enumerate(planes):
        acc = 0.0
        for x, y in zip(v, p):
            acc = acc + float(x) * y
        if acc >= 0:
            bucket += 2**i
    return bucket


def test_lsh_bucket_matches_python_fold_and_any_column_name(spark, sf_dir):
    from grouper_spark.operators.similarity import _bucket_col, random_hyperplanes
    from grouper_spark.sources import table

    planes = random_hyperplanes(64, 6, 42)
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    got = {
        r["vec_id"]: r["b"]
        for r in e.select("vec_id", _bucket_col("embedding", planes).alias("b"))
        .collect()
    }
    vecs = {r["vec_id"]: r["embedding"] for r in e.collect()}
    assert got == {i: _fold_sign_bucket(v, planes) for i, v in vecs.items()}
    assert len(set(got.values())) > 1
    spaced = e.withColumnRenamed("embedding", "my `vec")
    assert {
        r["vec_id"]: r["b"]
        for r in spaced.select(
            "vec_id", _bucket_col("my `vec", planes).alias("b")
        ).collect()
    } == got


def test_lsh_bucket_width_mismatch_raises(spark):
    from grouper_spark.operators import lsh_bucket_ann

    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(32)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="plane width 64"):
        lsh_bucket_ann(df, df.filter("vec_id < 2"), k=2, dim=64).collect()
