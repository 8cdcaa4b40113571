"""Round-11 optimization-round tests: the vectorized HALF_UP replica
and the driver-exact Weiszfeld path must bit-match the engine forms
they replace."""

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


def _collect_sorted(df):
    rows = [tuple(r) for r in df.collect()]
    return sorted(
        rows,
        key=lambda t: tuple(
            (x is None, str(x)) for x in t
        ),
    )


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_a450_driver_path_bitmatches_distributed(spark, sf_dir):
    """The numpy sweep replica (driver path) returns row-for-row what
    the distributed broadcast-sweep pipeline returns."""
    from pyspark.sql import functions as F

    from grouper_spark.queries import load_all
    from grouper_spark.queries.similarity import _a450_distributed
    from grouper_spark.sources import table

    registry = load_all()
    fast = _collect_sorted(registry["a450_lof_panel"].fn(spark, sf_dir))
    src = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    slow = _collect_sorted(_a450_distributed(spark, src))
    assert len(fast) == len(slow) and len(fast) > 0
    assert fast == slow


def test_collect_vector_panel_guards(spark):
    """Over-cap, NULL vectors and ragged widths all return None (the
    caller's distributed fallback path)."""
    from grouper_spark.operators.core import collect_vector_panel

    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "id bigint, v array<double>"
    )
    got = collect_vector_panel(ok, "id", "v", 10)
    assert got is not None
    ids, X = got
    assert ids.tolist() == [1, 2] and X.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    assert collect_vector_panel(ok, "id", "v", 1) is None  # over cap
    bad_null = spark.createDataFrame(
        [(1, [1.0, None])], "id bigint, v array<double>"
    )
    assert collect_vector_panel(bad_null, "id", "v", 10) is None
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "id bigint, v array<double>"
    )
    assert collect_vector_panel(ragged, "id", "v", 10) is None
    nan = spark.createDataFrame(
        [(1, [float("nan"), 2.0])], "id bigint, v array<double>"
    )
    assert collect_vector_panel(nan, "id", "v", 10) is None


@pytest.mark.parametrize("id_type", ["int", "bigint", "double"])
def test_collect_vector_panel_id_types(spark, id_type):
    """Integer ids of any width come back unchanged as int64; float ids
    return None (they would truncate, 1.5 → 1) so the caller falls back
    to its distributed plan."""
    from grouper_spark.operators.core import collect_vector_panel

    ids = [1.5, 2.0] if id_type == "double" else [1, 2]
    df = spark.createDataFrame(
        [(ids[0], [1.0, 2.0]), (ids[1], [3.0, 4.0])],
        f"id {id_type}, v array<double>",
    )
    got = collect_vector_panel(df, "id", "v", 10)
    if id_type == "double":
        assert got is None
        return
    got_ids, X = got
    assert got_ids.dtype == "int64" and got_ids.tolist() == [1, 2]
    assert X.tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_collect_vector_panel_raises_on_plan_error(spark):
    """A panel whose plan fails while it runs raises out of the collect
    instead of returning None, which would switch the caller to its
    distributed algorithm and hide the error."""
    from pyspark.sql import functions as F

    from grouper_spark.operators.core import collect_vector_panel

    df = spark.range(3).select(
        "id",
        F.when(F.col("id") == 1, F.raise_error(F.lit("panel-boom")))
        .otherwise(F.array(F.col("id").cast("double"), F.lit(1.0)))
        .alias("v"),
    )
    with pytest.raises(Exception, match="panel-boom"):
        collect_vector_panel(df, "id", "v", 10)


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


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_a459_driver_path_bitmatches_sweeps(spark, sf_dir, monkeypatch):
    """The numpy Gonzalez replica returns row-for-row what the
    distributed sweep loop returns (fallback forced by patching the
    panel collector to decline)."""
    import grouper_spark.operators.core as core
    from grouper_spark.queries import load_all

    registry = load_all()
    fast = _collect_sorted(registry["a459_kcenter_seeding"].fn(spark, sf_dir))
    monkeypatch.setattr(core, "collect_vector_panel", lambda *a, **k: None)
    slow = _collect_sorted(registry["a459_kcenter_seeding"].fn(spark, sf_dir))
    assert len(fast) == 8 and fast == slow


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001",
                                    "/root/testdata/sf0.01"])
def test_a440_driver_path_bitmatches_distributed(spark, sf_dir):
    """The collected-panel Weiszfeld replica returns row-for-row,
    bit-for-bit what the distributed six-pass loop returns."""
    from pyspark.sql import functions as F

    from grouper_spark.queries import load_all
    from grouper_spark.queries.similarity import _a440_distributed
    from grouper_spark.sources import table

    registry = load_all()
    fast = _collect_sorted(registry["a440_geometric_median"].fn(spark, sf_dir))
    src = table(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    slow = _collect_sorted(_a440_distributed(spark, src))
    assert len(fast) == len(slow) and len(fast) > 0
    for a, b in zip(fast, slow):
        assert a == b, (a, b)
        # bit-identity on the rounded coordinate, not approximate
        assert math.copysign(1.0, a[2]) == math.copysign(1.0, b[2])
