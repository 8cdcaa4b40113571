"""Textbook-invariant property checks for the round-9 battery
(grouper_spark/queries/inference4.py, a174-a207).

Same contract as test_inference3_props.py: the parity gate proves
Spark == DuckDB but cannot catch a formula BOTH sides encode wrong --
these pin each estimator/audit to facts that hold for the statistic
itself (bounds, identities, conservation, independent recomputation).
Each query runs once at sf0.001 on the shared session; all outputs are
summary-sized."""

from __future__ import annotations

import math

import pytest

from grouper_spark.queries import load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def row(spark, sf_dir):
    cache: dict[str, list] = {}

    def get(name):
        if name not in cache:
            cache[name] = REGISTRY[name].fn(spark, sf_dir).collect()
        return cache[name]

    return get


@pytest.fixture(scope="module")
def daily(spark, sf_dir):
    from pyspark.sql import functions as F

    from grouper_spark.functions.text import money_units
    from grouper_spark.queries._series import daily_orders
    from grouper_spark.sources import table

    rows = daily_orders(
        table(spark, sf_dir, "orders"),
        F.count("*").cast("bigint").alias("v"),
        money_units("o_totalprice", 100).alias("y"),
    ).orderBy("d").collect()
    return [(r["d"], r["v"], r["y"]) for r in rows]


def test_savitzky_golay_recompute(row, daily):
    # Independent recomputation: the SG-7 quadratic convolution from the
    # raw daily panel must reproduce the first emitted rows exactly.
    rs = row("a174_savitzky_golay")
    v = [x[1] for x in daily]
    by_d = {x[0]: i for i, x in enumerate(daily)}
    for r in rs[:10]:
        i = by_d[r["d"]]
        conv = (
            -2 * (v[i - 3] + v[i + 3])
            + 3 * (v[i - 2] + v[i + 2])
            + 6 * (v[i - 1] + v[i + 1])
            + 7 * v[i]
        )
        assert r["volume"] == v[i]
        assert abs(r["sg_r"] - conv / 21.0) < 1e-6


def test_kz_filter_bounds(row, daily):
    # KZ is an iterated positive-weight moving average: output must lie
    # within the raw series envelope.
    rs = row("a175_kz_filter")
    v = [x[1] for x in daily]
    lo, hi = min(v), max(v)
    for r in rs:
        vals = [x for x in r.asDict().values() if isinstance(x, float)]
        for x in vals:
            assert lo - 1e-6 <= x <= hi + 1e-6


def test_cochrane_orcutt_rho_bounded(row):
    r = row("a176_cochrane_orcutt")[0]
    d = r.asDict()
    rho = next(v for k, v in d.items() if "rho" in k)
    assert -1.5 <= rho <= 1.5


def test_zip_mom_moment_identity(row):
    # For ZIP(pi, lambda): mean = (1-pi)*lambda must hold at the fit.
    r = row("a177_zip_mom")[0]
    d = r.asDict()
    pi_hat = next((v for k, v in d.items() if "pi" in k), None)
    lam = next((v for k, v in d.items() if "lambda" in k or "lam" in k), None)
    mean = next((v for k, v in d.items() if "mean" in k), None)
    if None in (pi_hat, lam, mean) or pi_hat is None:
        pytest.skip("degenerate fit columns absent")
    assert abs((1.0 - pi_hat) * lam - mean) < 1e-3


def test_hoeffding_d_bounds(row):
    r = row("a178_hoeffding_d")[0]
    assert -0.5 - 1e-9 <= r["d_stat_r"] <= 1.0 + 1e-9


def test_blomqvist_beta_bounds(row):
    r = row("a179_blomqvist_beta")[0]
    beta = next(v for k, v in r.asDict().items() if "beta" in k)
    assert -1.0 - 1e-9 <= beta <= 1.0 + 1e-9


def test_welch_anova_nonneg(row):
    r = row("a180_welch_anova")[0]
    d = r.asDict()
    f_stat = next(v for k, v in d.items() if k.startswith("f"))
    assert f_stat >= 0.0
    for k, v in d.items():
        if "df" in k:
            assert v > 0


def test_ancova_f_nonneg(row):
    r = row("a181_ancova")[0]
    d = r.asDict()
    fs = [v for k, v in d.items() if k.startswith("f") and v is not None]
    for f in fs:
        assert f >= -1e-9


def test_bass_discriminant_identity(row):
    r = row("a182_bass_diffusion")[0]
    d = r.asDict()
    if d.get("disc_r") is not None and None not in (
        d.get("a_r"), d.get("b_r"), d.get("c_r")
    ):
        assert abs(
            d["disc_r"] - (d["b_r"] ** 2 - 4 * d["a_r"] * d["c_r"])
        ) < 1e-2


def test_dfg_share_conservation(row):
    rs = row("a183_directly_follows_graph")
    # floor-ppm shares over the full transition set must not exceed 1e6
    assert sum(r["share_ppm"] for r in rs) <= 1_000_000
    for r in rs:
        assert r["n"] > 0 and 0 < r["share_ppm"] <= 1_000_000


def test_footprint_relation_consistency(row):
    for r in row("a184_process_footprint_matrix"):
        if r["f_ab"] > 0 and r["f_ba"] > 0:
            assert r["relation"] == "||"
        elif r["f_ab"] > 0:
            assert r["relation"] == "->"
        elif r["f_ba"] > 0:
            assert r["relation"] == "<-"
        else:
            assert r["relation"] == "#"


def test_bottleneck_mean_identity(row):
    for r in row("a185_transition_bottlenecks"):
        assert 0 <= r["mean_wait_centi_s"] <= r["max_wait_s"] * 100
        # floor((total*100)/n) reconstruction
        assert r["mean_wait_centi_s"] == (r["total_wait_s"] * 100) // r["n"]


def test_variant_entropy_bounds(row):
    r = row("a186_case_variant_entropy")[0]
    assert r["top_count"] <= r["n_cases"]
    assert r["n_variants"] <= r["n_cases"]
    assert -1e-6 <= r["entropy_nats_r"] <= math.log(r["n_variants"]) + 1e-6


def test_loo_source_value_conservation(row):
    rs = row("a187_loo_source_value")
    assert sum(r["share_ppm"] for r in rs) <= 1_000_000
    # weighted LOO deltas balance: sources pulling up are offset by
    # sources pulling down (exact-integer floors give slack <= n_sources)
    pulls = [r["loo_delta_micro"] * (1_000_000 - r["share_ppm"]) for r in rs]
    total = sum(abs(p) for p in pulls)
    assert total == 0 or abs(sum(pulls)) < total


def test_leverage_bounds(row):
    rs = row("a188_ols_leverage_dffits")
    for r in rs:
        assert 0.0 < r["h_r"] < 1.0
        assert r["s_loo_r"] > 0.0
    # sorted by |dffits| descending
    vals = [abs(r["dffits_r"]) for r in rs]
    assert vals == sorted(vals, reverse=True)


def test_butterfly_choose2_identity(row):
    rs = row("a189_butterfly_count")
    for r in rs:
        c = r["common_c"]
        assert r["butterflies"] == c * (c - 1) // 2
        assert r["total_butterflies"] >= r["butterflies"]


def test_edge_redundancy_bounds(row):
    r = row("a190_bipartite_edge_redundancy")[0]
    assert 0 <= r["n_redundant"] <= r["n_edges"]
    assert 0 <= r["redundancy_ppm"] <= 1_000_000
    assert r["redundancy_ppm"] == r["n_redundant"] * 1_000_000 // r["n_edges"]


def test_passing_bablok_sane(row):
    r = row("a191_passing_bablok")[0]
    assert r["k_neg"] <= r["n_pairs"]
    assert math.isfinite(r["slope_r"]) and math.isfinite(r["intercept_r"])
    # volume and revenue are strongly positively related in the fixture
    assert r["slope_r"] > 0


def test_copeland_point_conservation(row):
    rs = row("a192_copeland_ranking")
    t = len(rs)
    # every duel hands out exactly 2 points
    assert sum(r["copeland_doubled"] for r in rs) == t * (t - 1)
    for r in rs:
        assert r["majority_wins"] * 2 + r["majority_ties"] == r["copeland_doubled"]


def test_lin_ccc_dominated_by_pearson(row):
    r = row("a193_lin_ccc")[0]
    assert -1.0 - 1e-9 <= r["ccc_r"] <= 1.0 + 1e-9
    assert abs(r["ccc_r"]) <= abs(r["pearson_r"]) + 1e-6
    assert 0.0 <= r["c_b_r"] <= 1.0 + 1e-6


def test_tdi_bounds(row):
    r = row("a194_total_deviation_index")[0]
    assert r["tdi90"] >= 0
    assert 0 <= r["coverage_ppm"] <= 1_000_000


def test_comonth_collision_bounds(row):
    r = row("a195_comonth_collision_audit")[0]
    nb, nm = r["n_buckets"], r["n_months"]
    assert 0 <= r["comonth_collisions"] <= nm * nb * (nb - 1) // 2
    assert r["mean_months_per_bucket_centi"] >= 100  # >= 1 month/bucket


def test_partition_balance_consistency(row):
    r = row("a196_partition_balance_audit")[0]
    assert 1 <= r["n_buckets"] <= 32
    assert r["min_rows"] <= r["max_rows"] <= r["total_rows"]
    assert (
        r["range_ppm"]
        == (r["max_rows"] - r["min_rows"]) * 1_000_000 // r["total_rows"]
    )


def test_sortedness_bounds(row):
    r = row("a197_bucket_sortedness_audit")[0]
    assert 0 <= r["descents"] <= r["n_steps"]
    assert 0 <= r["sortedness_ppm"] <= 1_000_000


def test_delta_bitwidth_conservation(row):
    r = row("a198_delta_bitwidth_audit")[0]
    assert (
        r["c4"] + r["c8"] + r["c12"] + r["c16"] + r["c_wide"] == r["n_deltas"]
    )
    assert r["bits_delta"] <= r["bits_plain"] == r["n_deltas"] * 64
    assert (
        r["savings_ppm"]
        == 1_000_000 - r["bits_delta"] * 1_000_000 // r["bits_plain"]
    )


def test_heuristic_dependency_bounds(row):
    rs = row("a199_heuristic_miner_dependency")
    for r in rs:
        assert -1.0 <= r["dep_r"] <= 1.0
        # edge_flag is computed on the UNROUNDED dependency; dep_r is
        # round(,6). A true dep in [0.5 - 5e-7, 0.5) rounds UP to 0.5
        # while the flag stays 0, so only assert away from the boundary.
        if abs(r["dep_r"] - 0.5) > 5e-7:
            assert r["edge_flag"] == (1 if r["dep_r"] >= 0.5 else 0)
        if r["ta"] == r["tb"]:
            assert r["dep_r"] >= 0.0


def test_littles_law_agreement(row):
    r = row("a200_littles_law_audit")[0]
    # total session time cannot exceed horizon x population, and the
    # sampled concurrency estimator must agree with the exact
    # time-average within coarse sampling error (hourly ticks).
    assert 0 < r["total_dur_ms"] <= r["horizon_ms"] * r["n_sessions"]
    assert r["n_ticks"] > 0
    lo = min(r["l_timeavg_micro"], r["l_sampled_micro"])
    hi = max(r["l_timeavg_micro"], r["l_sampled_micro"])
    assert hi <= 2 * lo + 2_000_000  # within 2x + 2 sessions slack


def test_var1_stability(row):
    r = row("a201_var1_model")[0]
    assert r["n"] > 0
    # daily activity is stationary in the fixture: stable VAR
    assert 0.0 <= r["spectral_radius_r"] < 1.5


def test_poincare_identity(row):
    r = row("a202_poincare_sd")[0]
    assert r["sd1_r"] >= 0 and r["sd2_r"] >= 0
    # ellipse area = pi * sd1 * sd2 within rounding
    assert abs(r["ellipse_area_r"] - math.pi * r["sd1_r"] * r["sd2_r"]) < 0.01
    if r["sd2_r"] > 0:
        assert abs(r["ratio_r"] - r["sd1_r"] / r["sd2_r"]) < 1e-3


def test_transfer_entropy_nonneg(row):
    r = row("a203_transfer_entropy")[0]
    # TE is a KL divergence: nonnegative up to micro-quantization slack
    assert r["te_vy_r"] >= -1e-4
    assert r["te_vy_r"] <= math.log(2.0) + 1e-6  # binary alphabet cap


def test_rqa_bounds(row):
    r = row("a204_recurrence_quantification")[0]
    assert 0 <= r["rr_ppm"] <= 1_000_000
    assert 0 <= r["det_ppm"] <= 1_000_000
    assert r["n_in_lines"] <= r["n_recurrent"]


def test_seasonal_strength_bounds(row):
    r = row("a205_seasonal_strength")[0]
    assert 0.0 <= r["seasonal_strength_r"] <= 1.0 + 1e-9
    assert 0.0 <= r["trend_strength_r"] <= 1.0 + 1e-9


def test_allan_variance_consistency(row):
    rs = row("a206_allan_variance")
    # sparse small-sf day panels may lack full blocks at large tau;
    # whatever taus survive must be from the literal grid, in order
    taus = [r["tau"] for r in rs]
    assert taus == sorted(taus) and set(taus) <= {1, 2, 4, 8, 16}
    assert 1 in taus
    for r in rs:
        assert r["avar_r"] >= 0.0
        assert abs(
            r["avar_r"] - r["sum_d2"] / (2.0 * r["m"] * r["tau"] ** 2)
        ) < 1e-6


def test_split_half_spearman_brown_identity(row):
    r = row("a207_split_half_reliability")[0]
    assert -1.0 - 1e-9 <= r["r_half_r"] <= 1.0 + 1e-9
    sb = 2.0 * r["r_half_r"] / (1.0 + r["r_half_r"])
    assert abs(r["spearman_brown_r"] - sb) < 1e-3
    # prophecy lengthening never reduces a positive reliability
    if r["r_half_r"] > 0:
        assert r["spearman_brown_r"] >= r["r_half_r"] - 1e-9
