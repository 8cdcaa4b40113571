"""Round-10 optimization-round tests: the new parallel global rank
operator, the driver-side HALF_UP rounding replica that the q249 /
a448 / a440 iteration tails rely on for bit-identical results, and the
a191/a208 driver-exact paths checked against their DuckDB oracles."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from grouper_spark.functions.exact import round0_half_up
from grouper_spark.operators.core import global_row_number
from grouper_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-opt-r10")


def test_global_row_number_matches_single_partition_window(spark):
    rng = random.Random(7)
    rows = [
        (rng.random(), rng.randint(0, 10**6), i)
        for i in range(20_000)
    ]
    df = spark.createDataFrame(rows, "s double, i bigint, j bigint")
    got = {
        (r["s"], r["i"], r["j"]): r["rn"]
        for r in global_row_number(df, ["s", "i", "j"]).collect()
    }
    want = {
        (r["s"], r["i"], r["j"]): r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy("s", "i", "j"))
        ).collect()
    }
    assert got == want


def test_global_row_number_fewer_rows_than_partitions(spark):
    df = spark.createDataFrame(
        [(3.0, 1), (1.0, 2), (2.0, 3)], "s double, i bigint"
    )
    out = sorted(
        (r["rn"], r["s"]) for r in global_row_number(df, ["s", "i"]).collect()
    )
    assert out == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_global_row_number_preserves_columns_and_rowcount(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("i")
    )
    out = global_row_number(df, [F.col("k").desc(), "i"], alias="g")
    assert set(out.columns) == {"k", "i", "g"}
    rns = [r["g"] for r in out.collect()]
    assert sorted(rns) == list(range(1, 1001))


def _spark_round0(spark, xs: list[float]) -> list[int]:
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    return [
        r["r"]
        for r in df.select(
            F.round(F.col("x"), 0).cast("bigint").alias("r")
        ).collect()
    ]


def test_round0_half_up_matches_spark_round(spark):
    rng = random.Random(11)
    xs = [
        0.5, 1.5, 2.5, -0.5, -1.5, -2.5,          # exact ties
        0.49999999999999994, 2.675, -2.675,       # classic repr traps
        1e15 + 0.5, -1e15 - 0.5,                  # large magnitudes
    ]
    xs += [rng.uniform(-1e6, 1e6) for _ in range(200)]
    # the exact shapes the driver-side replicas produce: ratios of
    # big exact integers cast to double
    for _ in range(200):
        a = rng.randint(1, 10**17)
        b = rng.randint(1, 10**9)
        xs.append(float(a) * 1e6 / float(b))
    got = [round0_half_up(x) for x in xs]
    want = _spark_round0(spark, xs)
    assert got == want, [
        (x, g, w) for x, g, w in zip(xs, got, want) if g != w
    ][:5]


# --- round-10 batch 2: vector-function and pair-generator rewrites ---


def _old_l2_normalize(a):
    """The pre-optimization transform-with-inlined-divisor formulation
    (O(d²) interpreted per row) — kept here as the equivalence oracle."""
    from grouper_spark.functions.vector import l2_norm

    a = F.col(a) if isinstance(a, str) else a
    n = l2_norm(a)
    safe = F.when(n == 0, F.lit(1.0)).otherwise(n)
    return F.transform(a, lambda x: x.cast("double") / safe)


def test_l2_normalize_bit_identical_to_old_formulation(spark):
    from grouper_spark.functions.vector import l2_normalize

    rng = random.Random(83)
    rows = [
        (i, [rng.uniform(-5, 5) for _ in range(rng.choice([1, 3, 64]))])
        for i in range(500)
    ]
    rows += [(1000, [0.0] * 8), (1001, []), (1002, None)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = df.select(
        "id",
        l2_normalize("v").alias("new"),
        _old_l2_normalize("v").alias("old"),
    ).collect()
    import struct as _struct

    for r in out:
        if r["old"] is None or r["new"] is None:
            assert r["old"] == r["new"], r
            continue
        a = [_struct.pack("d", x) for x in r["new"]]
        b = [_struct.pack("d", x) for x in r["old"]]
        assert a == b, r["id"]



def test_dedup_clusters_one_row_per_doc_min_reachable_label(spark):
    """The subgraph-restricted rounds + isolated-doc append must emit
    EXACTLY one row per input doc, labeled with the min doc id
    reachable in the jaccard>=threshold pair graph — brute-force
    BFS-checked on a corpus mixing chains, a clique, and isolates."""
    from grouper_spark.operators import dedup_clusters, shingle_jaccard_pairs
    from pyspark.sql import functions as F

    words = [f"w{i}" for i in range(60)]
    docs = []
    # chain of 5 (each overlaps the next by 3 of its 6 words)
    for i in range(5):
        docs.append((i + 1, " ".join(words[i * 3 : i * 3 + 6])))
    # clique of 3 near-identical docs
    base = words[30:36]
    docs += [
        (10, " ".join(base)),
        (11, " ".join(base[:5] + [words[40]])),
        (12, " ".join(base[:5] + [words[41]])),
    ]
    # two isolates
    docs += [(20, " ".join(words[45:51])), (21, " ".join(words[52:58]))]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    thr = 0.2
    out = dedup_clusters(df, "doc_id", "text", threshold=thr).collect()
    labels = {r["doc"]: r["cluster_id"] for r in out}
    assert len(out) == len(docs) == len(labels)  # one row per doc

    # brute-force ground truth from the same pair operator
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in shingle_jaccard_pairs(df, "doc_id", "text", 3)
        .filter(F.col("jaccard") >= thr)
        .collect()
    ]
    adj: dict[int, set[int]] = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for d, _ in docs:
        seen = {d}
        frontier = [d]
        while frontier:
            nxt = [m for f in frontier for m in adj.get(f, ()) if m not in seen]
            seen.update(nxt)
            frontier = nxt
        assert labels[d] == min(seen), (d, sorted(seen))


def test_a404_class_decomposition_matches_doc_level_truth(spark, tmp_path):
    """a404's truth side collapses identical shingle SETS into classes
    and expands pair counts arithmetically; pin it against a doc-level
    brute force on a corpus with nontrivial classes: replicated texts
    (m=3 and m=2 classes), a near-dup pair straddling classes, and an
    m=2 class with an EMPTY shingle set (texts under 3 words), whose
    intra-class pairs must NOT count as truth (inter = 0)."""
    import itertools
    import re

    from grouper_spark.queries.dedup import _PRF_T, _minhash_components

    words = [f"w{i:02d}" for i in range(40)]
    text_a = " ".join(words[:12])
    text_b = " ".join(words[10:24])
    text_b_near = " ".join(words[10:23] + [words[30]])  # high overlap w/ B
    docs = [
        (0, text_a),
        (1, text_a),
        (2, text_a),  # class m=3
        (3, text_b),
        (4, text_b),  # class m=2
        (5, text_b_near),  # near-dup of the B class
        (6, " ".join(words[25:33])),  # isolate
        (7, "one two"),
        (8, "one two"),  # m=2 class, EMPTY shingle set
        (9, " ".join(words[33:40])),  # isolate
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in docs],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")

    def shingles(t: str) -> frozenset[str]:
        toks = re.split(r"\s+", t.strip())
        return frozenset(
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))
        )

    ss = {i: shingles(t) for i, t in docs}
    truth = set()
    for a, b in itertools.combinations(sorted(ss), 2):
        inter = len(ss[a] & ss[b])
        union = len(ss[a] | ss[b])
        if inter >= 1 and inter / union >= _PRF_T:
            truth.add((a, b))
    _, _, cand = _minhash_components(spark, sf_dir)
    pred = {
        (r["doc_a"], r["doc_b"])
        for r in cand.select("doc_a", "doc_b").distinct().collect()
    }
    from grouper_spark.queries import load_all

    row = load_all()["a404_lsh_prf_eval"].fn(spark, sf_dir).collect()[0]
    assert row["n_true"] == len(truth)
    assert row["n_pred"] == len(pred)
    assert row["n_tp"] == len(pred & truth)


def _write_orders(spark, path, day_prices):
    """One orders parquet directory with a day per entry of
    ``day_prices`` (a list of that day's order prices); returns the
    sf_dir to pass to a query."""
    import datetime

    base = datetime.date(2024, 1, 1)
    rows = []
    for day, prices in enumerate(day_prices):
        d = base + datetime.timedelta(days=day)
        for price in prices:
            rows.append((len(rows), d, price))
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderdate date, o_totalprice double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    return str(path)


def _vy_panel(panel):
    """Day prices for (v, y-kilodollars) pairs: v-1 orders of 1000.00
    plus one order carrying the remainder."""
    return [
        [1000.0] * (v - 1) + [float(yk * 1000 - (v - 1) * 1000)]
        for v, yk in panel
    ]


def _query_matches_oracle(spark, name, sf_dir):
    """Run the registered query and its DuckDB oracle over the same
    synthetic orders directory and assert identical rows."""
    import duckdb

    from grouper_spark.queries import load_all

    qdef = load_all()[name]
    got = [r.asDict() for r in qdef.fn(spark, sf_dir).collect()]
    with duckdb.connect() as con:
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM"
            f" '{sf_dir}/orders.parquet/*.parquet'"
        )
        res = con.execute(qdef.oracle)
        cols = [c[0] for c in res.description]
        want = [dict(zip(cols, r)) for r in res.fetchall()]
    assert got == want
    return got


# a191 panel of (v, y-kilodollars) engineered to hit the estimator's
# branches: v repeats (5 twice, den = 0 pairs dropped), one pair with
# slope exactly -1 ((1,10) vs (2,9), excluded), steep negative slopes
# via (3,40)->(4,2) (k_neg > 0), slope ties, and an even residual count
# (mean-of-two intercept).
_A191_PANEL = [
    (1, 10), (2, 9), (3, 40), (4, 2), (5, 12), (5, 30),
    (6, 18), (7, 18), (8, 25), (9, 60), (10, 33), (12, 41),
]


def test_a191_driver_path_matches_oracle(spark, tmp_path):
    """a191's driver-exact numpy path must reproduce its DuckDB oracle
    bit-for-bit."""
    sf_dir = _write_orders(spark, tmp_path, _vy_panel(_A191_PANEL))
    got = _query_matches_oracle(spark, "a191_passing_bablok", sf_dir)
    assert len(got) == 1 and got[0]["k_neg"] > 0


@pytest.mark.parametrize(
    "panel",
    [
        [],  # no day: n_pairs = 0, k_neg NULL
        [(5, 12)],  # one day: n_pairs = 0, k_neg NULL
        # anti-correlated: every slope < -1, so the rank pick shifted
        # by k_neg = n_pairs falls past the slopes
        [(1, 100), (2, 80), (3, 50)],  # n_pairs = 3
        [(1, 100), (2, 80), (3, 50), (4, 20)],  # n_pairs = 6
    ],
    ids=["empty", "one_day", "anti_odd", "anti_even"],
)
def test_a191_degenerate_panels_match_oracle(spark, tmp_path, panel):
    """With no rank pick the oracle still gives one row, (n_pairs,
    k_neg, NULL, NULL), and k_neg is NULL when n_pairs = 0."""
    sf_dir = _write_orders(spark, tmp_path, _vy_panel(panel))
    got = _query_matches_oracle(spark, "a191_passing_bablok", sf_dir)
    n_pairs = len(panel) * (len(panel) - 1) // 2
    k_neg = n_pairs if n_pairs else None
    assert [tuple(r.values()) for r in got] == [(n_pairs, k_neg, None, None)]


def test_a361_intersection_triangles_match_bruteforce(spark, tmp_path):
    """a361's per-edge adjacency-intersection triangle counts must
    reproduce a brute-force triple enumeration. Synthetic baskets
    engineered for the edge cases: a 4-clique (every edge closes two
    triangles), a node with degree 1 (no c_micro row), max-id nodes
    with empty higher-neighbor sets (the slice(nu,1,0) branch), and a
    disconnected zero-triangle pair."""
    import itertools

    baskets = [
        [1, 2, 3, 4],   # 4-clique: 4 triangles
        [2, 3, 5],      # extra triangle sharing edge (2,3)
        [4, 5],         # closes nothing new except via (4,5)? no (4,5,x)
        [6, 7],         # disconnected zero-triangle edge
        [1, 5],         # path edge
        [8],            # singleton basket: no edges
    ]
    rows = []
    for oid, parts in enumerate(baskets):
        for p in parts:
            rows.append((oid, p))
    spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/lineitem.parquet"
    )
    # brute force over the undirected co-purchase graph
    edges = set()
    for parts in baskets:
        for a, b in itertools.combinations(sorted(set(parts)), 2):
            edges.add((a, b))
    nodes = sorted({n for e in edges for n in e})
    deg = {n: sum(1 for e in edges if n in e) for n in nodes}
    tri = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in edges and (a, c) in edges and (b, c) in edges:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    bins: dict[int, list] = {}
    for n in nodes:
        d = deg[n]
        if d < 2:
            continue
        c_micro = round(2.0 * tri[n] / (d * (d - 1)) * 1e6)  # no .5 ties
        bins.setdefault(min(c_micro // 100000, 9), []).append(
            (tri[n], c_micro)
        )
    want = {
        int(b): (
            len(v),
            sum(t for t, _ in v),
            round(sum(c for _, c in v) / 1e6 / len(v), 6),
        )
        for b, v in bins.items()
    }
    from grouper_spark.queries import load_all

    got = {
        r["c_bin"]: (r["n_nodes"], r["triangles_x3"], r["avg_c_r"])
        for r in load_all()["a361_clustering_coefficient"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == want


# a208 daily order volumes: even n with repeated v values (slope ties
# across pairs, mean-of-two medians at every level) and odd n
# (middle-element picks)
_A208_PANELS = (
    [3, 7, 7, 2, 9, 9, 4, 11, 3, 8, 10, 5],  # n=12, ties
    [5, 1, 6, 6, 2, 8, 4, 9, 7, 3, 12],      # n=11
)


def test_a208_driver_path_matches_oracle(spark, tmp_path):
    """a208's driver-exact numpy path must reproduce its DuckDB oracle
    bit-for-bit."""
    for k, panel in enumerate(_A208_PANELS):
        sf_dir = _write_orders(
            spark, tmp_path / str(k), [[100.0] * v for v in panel]
        )
        got = _query_matches_oracle(
            spark, "a208_siegel_repeated_medians", sf_dir
        )
        assert len(got) == 1 and got[0]["n"] == len(panel)


def test_a208_over_cap_panel_raises(spark, tmp_path, monkeypatch):
    """Above its day cap a208 raises instead of switching algorithm."""
    from grouper_spark.queries import inference5, load_all

    monkeypatch.setattr(inference5, "_SIEGEL_MAX_PANEL", 5)
    sf_dir = _write_orders(
        spark, tmp_path, [[100.0] * v for v in _A208_PANELS[0]]
    )
    with pytest.raises(ValueError, match="a208_siegel_repeated_medians.*5"):
        load_all()["a208_siegel_repeated_medians"].fn(spark, sf_dir)


def test_literal_frame_matches_tuple_path(spark):
    """operators.core.literal_frame (Arrow literal path) must produce
    the same rows, schema and null placement as the tuple
    createDataFrame it replaces — including None in integer columns
    (a524's empty-corpus NULL flow) and an empty row list."""
    from grouper_spark.operators.core import literal_frame

    schema = "a bigint, b bigint, c double, s string"
    rows = [(1, None, 2.5, "x"), (2, 7, None, None), (-3, 0, -0.0, "")]
    got = literal_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    empty = literal_frame(spark, [], "k int, v bigint")
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<k:int,v:bigint>"
