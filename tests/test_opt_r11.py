"""Round-11 optimization-round tests: the vectorized HALF_UP replica
must bit-match the engine's rounding, and the driver-exact vector-panel
queries (a440, a450, a459) must bit-match their DuckDB oracles."""

from __future__ import annotations

import math
import random

import pytest

from grouper_spark.functions.exact import round0_half_up, round0_half_up_vec
from grouper_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-opt-r11")


def test_round0_half_up_vec_matches_scalar():
    import numpy as np

    rng = random.Random(11)
    vals = [
        0.0, -0.0, 0.5, -0.5, 1.5, -1.5, 2.5, -2.5,
        0.49999999999999994, -0.49999999999999994,
        2.4999999999999996, 1.9999999999999998, 0.9999999999999999,
        4503599627370495.5, -4503599627370495.5,  # 2**52 - 0.5
        float(2**52), float(2**53), -float(2**53),
        1e9, 1e12, 123456789.123456789, -987654321.5,
    ]
    vals += [rng.uniform(-1e12, 1e12) for _ in range(5000)]
    vals += [rng.uniform(-5.0, 5.0) for _ in range(5000)]
    # values engineered to sit just off an n.5 boundary
    vals += [k + 0.5 + eps for k in range(-3, 4)
             for eps in (-1e-16, -5e-16, 1e-16, 5e-16)]
    a = np.array(vals, dtype=np.float64)
    got = round0_half_up_vec(a)
    for v, g in zip(vals, got.tolist()):
        assert g == round0_half_up(v), (v, g, round0_half_up(v))


def test_round0_half_up_vec_matches_spark_round(spark):
    """The vector replica must match F.round(double, 0) itself, not
    just the scalar replica (which has its own equivalence proof)."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = random.Random(7)
    vals = [rng.uniform(-1e9, 1e9) for _ in range(2000)]
    vals += [rng.uniform(-2.0, 2.0) for _ in range(2000)]
    vals += [0.5, -0.5, 2.5, -2.5, 0.49999999999999994]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [
        r["r"]
        for r in df.select(
            F.round("x", 0).cast("bigint").alias("r")
        ).collect()
    ]
    got_vec = round0_half_up_vec(
        np.array(vals, dtype=np.float64)
    ).tolist()
    assert got_spark == got_vec


def _assert_matches_oracle(spark, sf_dir, name):
    """Run registry query ``name`` and its DuckDB oracle over ``sf_dir``
    and assert the sorted rows are equal, value for value; returns the
    sorted column names and both row lists."""
    import duckdb

    from grouper_spark.queries import load_all
    from grouper_spark.sources import TABLES

    qdef = load_all()[name]
    sdf = qdef.fn(spark, sf_dir)
    cols = sorted(sdf.columns)
    got = sorted(tuple(r[c] for c in cols) for r in sdf.collect())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(qdef.oracle)
    dcols = [d[0] for d in res.description]
    assert sorted(dcols) == cols
    idx = [dcols.index(c) for c in cols]
    want = sorted(tuple(r[i] for i in idx) for r in res.fetchall())
    assert len(got) == len(want) and len(got) > 0
    for a, b in zip(got, want):
        assert a == b, (a, b)
    return cols, got, want


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_a440_driver_path_bitmatches_distributed(spark, sf_dir):
    """The collected-panel Weiszfeld replica returns row-for-row,
    bit-for-bit what the oracle's set-based six-pass loop returns,
    down to the sign of zero in the rounded coordinate."""
    cols, got, want = _assert_matches_oracle(
        spark, sf_dir, "a440_geometric_median"
    )
    k = cols.index("coord_r")
    for a, b in zip(got, want):
        assert math.copysign(1.0, a[k]) == math.copysign(1.0, b[k])


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_a450_driver_path_bitmatches_distributed(spark, sf_dir):
    """The numpy LOF replica returns row-for-row what the oracle's
    set-based k-distance / reachability SQL returns."""
    _assert_matches_oracle(spark, sf_dir, "a450_lof_panel")


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_a459_driver_path_bitmatches_sweeps(spark, sf_dir):
    """The numpy Gonzalez replica returns row-for-row what the oracle's
    unrolled farthest-point sweeps return: all 8 picks."""
    _, got, _ = _assert_matches_oracle(spark, sf_dir, "a459_kcenter_seeding")
    assert len(got) == 8


def test_collect_vector_panel_guards(spark):
    """Over-cap, NULL vectors, ragged widths and NaN all raise
    ValueError naming the panel; an empty panel is zero-length."""
    from grouper_spark.operators.core import collect_vector_panel

    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "id bigint, v array<double>"
    )
    ids, X = collect_vector_panel(ok, "id", "v", 10, "ok panel")
    assert ids.tolist() == [1, 2] and X.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    with pytest.raises(ValueError, match="ok panel.*cap of 1 rows"):
        collect_vector_panel(ok, "id", "v", 1, "ok panel")
    ids, X = collect_vector_panel(ok.limit(0), "id", "v", 10, "empty panel")
    assert ids.shape == (0,) and X.shape == (0, 0)
    bad_null = spark.createDataFrame(
        [(1, [1.0, None])], "id bigint, v array<double>"
    )
    with pytest.raises(ValueError, match="null panel.*NULL"):
        collect_vector_panel(bad_null, "id", "v", 10, "null panel")
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "id bigint, v array<double>"
    )
    with pytest.raises(ValueError, match="ragged panel.*unequal width"):
        collect_vector_panel(ragged, "id", "v", 10, "ragged panel")
    nan = spark.createDataFrame(
        [(1, [float("nan"), 2.0])], "id bigint, v array<double>"
    )
    with pytest.raises(ValueError, match="nan panel.*NaN"):
        collect_vector_panel(nan, "id", "v", 10, "nan panel")


@pytest.mark.parametrize("id_type", ["int", "bigint", "double"])
def test_collect_vector_panel_id_types(spark, id_type):
    """Integer ids of any width come back unchanged as int64; float ids
    raise ValueError (they would truncate, 1.5 → 1)."""
    from grouper_spark.operators.core import collect_vector_panel

    ids = [1.5, 2.0] if id_type == "double" else [1, 2]
    df = spark.createDataFrame(
        [(ids[0], [1.0, 2.0]), (ids[1], [3.0, 4.0])],
        f"id {id_type}, v array<double>",
    )
    if id_type == "double":
        with pytest.raises(ValueError, match="not integers"):
            collect_vector_panel(df, "id", "v", 10, "float-id panel")
        return
    got_ids, X = collect_vector_panel(df, "id", "v", 10, "int-id panel")
    assert got_ids.dtype == "int64" and got_ids.tolist() == [1, 2]
    assert X.tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_collect_vector_panel_raises_on_plan_error(spark):
    """A panel whose plan fails while it runs raises the plan's own
    error out of the collect."""
    from pyspark.sql import functions as F

    from grouper_spark.operators.core import collect_vector_panel

    df = spark.range(3).select(
        "id",
        F.when(F.col("id") == 1, F.raise_error(F.lit("panel-boom")))
        .otherwise(F.array(F.col("id").cast("double"), F.lit(1.0)))
        .alias("v"),
    )
    with pytest.raises(Exception, match="panel-boom"):
        collect_vector_panel(df, "id", "v", 10, "failing panel")


@pytest.mark.parametrize("cap", [5, 6, 100])
def test_collect_bounded_at_or_under_cap_is_complete(spark, cap):
    """A panel of at most ``cap`` rows comes back whole."""
    from grouper_spark.operators.core import collect_bounded

    rows = collect_bounded(spark.range(5), cap, "five-row panel")
    assert sorted(r["id"] for r in rows) == [0, 1, 2, 3, 4]


def test_collect_bounded_over_cap_raises(spark):
    """``cap + 1`` rows raise a ValueError naming the site and the cap."""
    from grouper_spark.operators.core import collect_bounded

    with pytest.raises(ValueError, match="five-row panel.*cap of 4 rows"):
        collect_bounded(spark.range(5), 4, "five-row panel")


def test_over_cap_vector_panel_raises(spark, sf_dir, monkeypatch):
    """A corpus above a440's driver cap raises instead of switching to
    another algorithm."""
    from grouper_spark.queries import load_all, similarity

    monkeypatch.setattr(similarity, "_A440_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="a440_geometric_median.*cap of 5"):
        load_all()["a440_geometric_median"].fn(spark, sf_dir)


def test_empty_embeddings(spark, sf_dir, tmp_path):
    """On a 0-row embeddings table a440 and a450 return 0 rows with
    their usual schema (the oracle's answer too); a459 cannot seed
    from vec 0 and raises."""
    from grouper_spark.queries import load_all

    registry = load_all()
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(0).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    empty_dir = str(tmp_path)
    for name, schema in (
        ("a440_geometric_median",
         "struct<label:int,p:int,coord_r:double,n_members:bigint>"),
        ("a450_lof_panel",
         "struct<vec_id:bigint,kdist_r:double,lof_r:double>"),
    ):
        df = registry[name].fn(spark, empty_dir)
        assert df.schema.simpleString() == schema
        assert df.collect() == []
    with pytest.raises(ValueError, match="a459_kcenter_seeding.*fewer than 8"):
        registry["a459_kcenter_seeding"].fn(spark, empty_dir)
