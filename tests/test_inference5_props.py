"""Textbook-invariant property checks for the round-10 battery
(grouper_spark/queries/inference5.py, a208-a241).

Same contract as test_inference4_props.py: the parity gate proves
Spark == DuckDB but cannot catch a formula BOTH sides encode wrong --
these pin each estimator/audit to facts that hold for the statistic
itself (bounds, identities, conservation, independent recomputation).
Each query runs once at sf0.001 on the shared session; all outputs are
summary-sized."""

from __future__ import annotations

import math
import statistics

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


def test_siegel_recompute(row, daily):
    # Full independent recomputation of the repeated-median line.
    r = row("a208_siegel_repeated_medians")[0]
    v = [x[1] for x in daily]
    n = len(v)
    assert r["n"] == n
    meds = []
    for i in range(n):
        slopes = [(v[j] - v[i]) / (j - i) for j in range(n) if j != i]
        meds.append(statistics.median(slopes))
    b = statistics.median(meds)
    a = statistics.median(v[i] - b * (i + 1) for i in range(n))
    assert abs(r["slope_r"] - b) < 1e-5
    assert abs(r["intercept_r"] - a) < 1e-4


def test_loess_grid_recompute(row, daily):
    rs = row("a209_loess_grid")
    v = [x[1] for x in daily]
    n = len(v)
    assert len(rs) == 24
    h = max(1, n // 4)
    vmin, vmax = min(v), max(v)
    for r in rs:
        assert r["n"] == n and r["h"] == h
        # a weighted local fit cannot leave the data range
        assert vmin - 1 <= r["fit_r"] <= vmax + 1
    # exact recompute of the middle eval point
    r = rs[12]
    tg = r["tg"]
    s0 = s1 = s2 = t0 = t1 = 0
    for j in range(n):
        t = j + 1
        dt = abs(t - tg)
        if dt > h:
            continue
        q = ((h**3 - dt**3) * 100) // h**3
        w = q**3
        u = t - tg
        s0 += w
        s1 += w * u
        s2 += w * u * u
        t0 += w * v[j]
        t1 += w * u * v[j]
    fit = (s2 * t0 - s1 * t1) / (s0 * s2 - s1 * s1)
    assert abs(r["fit_r"] - fit) < 1e-5


def test_kde_density_integrates(row):
    rs = row("a210_kde_epanechnikov")
    assert len(rs) == 32
    assert all(r["f_nano"] >= 0 for r in rs)
    # Riemann sum of the density over the grid should be near 1
    # (coarse 32-point grid + edge truncation => generous band).
    step = rs[1]["xg"] - rs[0]["xg"]
    total = sum(r["f_nano"] for r in rs) * step / 1e9
    assert 0.4 < total < 1.6


def test_capability_orderings(row):
    r = row("a211_process_capability")[0]
    assert r["lsl"] < r["usl"]
    assert r["lsl"] <= r["mu_r"] <= r["usl"]
    assert r["sigma_within_r"] > 0 and r["sigma_overall_r"] > 0
    # Cpk/Ppk account for centering, so they never exceed Cp/Pp.
    assert r["cpk_r"] <= r["cp_r"] + 1e-9
    assert r["ppk_r"] <= r["pp_r"] + 1e-9


def test_standardization_bounds(row):
    rs = row("a212_rate_standardization")
    assert len(rs) >= 5
    for r in rs:
        assert 0 <= r["crude_ppm"] <= 1_000_000
        assert 0 <= r["direct_ppm"] <= 1_000_000
        assert r["smr_r"] > 0


def test_james_stein_shrinks_toward_grand_mean(row):
    rs = row("a213_james_stein")
    for r in rs:
        assert 0.0 <= r["shrink_r"] <= 1.0
        lo = min(r["mean_unit"], r["grand_unit"])
        hi = max(r["mean_unit"], r["grand_unit"])
        assert lo - 1e-6 <= r["js_r"] <= hi + 1e-6


def test_event_study_market_identities(row):
    # Segments partition the market, so betas sum to 1, alphas to 0,
    # and the CARs cancel exactly.
    rs = row("a214_event_study_car")
    assert len(rs) == 5
    assert abs(sum(r["beta_r"] for r in rs) - 1.0) < 1e-4
    assert abs(sum(r["alpha_r"] for r in rs)) < 1e-3
    assert abs(sum(r["car_r"] for r in rs)) < 1e-2


def test_hinge_trend_identities(row):
    r = row("a215_hinge_trend")[0]
    assert abs(
        r["slope_pre_r"] + r["slope_change_r"] - r["slope_post_r"]
    ) < 2e-6
    assert 0.0 <= r["r2_r"] <= 1.0
    assert 0 < r["k"] < r["n"]


def test_twin_alignment_histogram(row):
    rs = row("a216_twin_alignment_audit")
    assert len(rs) == 16
    r0 = rs[0]
    assert r0["n_panel"] == 256
    assert r0["n_pairs"] == 256 * 255 // 2
    assert sum(r["n_in_bin"] for r in rs) == r0["n_pairs"]
    # planted twins sit at cosine >= ~0.996 => milli-fixed d2 well
    # inside the first histogram bin width (250000)
    assert 0 <= r0["alignment_md2"] < 250_000
    assert r0["uniformity_proxy"] >= 0


def test_ams_f2_bounds(row):
    r = row("a217_ams_f2_sketch")[0]
    assert r["n_vocab"] <= r["n_tokens"]
    assert r["n_tokens"] <= r["f2"] <= r["n_tokens"] ** 2
    assert r["est16"] >= 0
    # 16-estimator mean has sd ~ sqrt(2/16)*F2; allow a wide 4-sigma.
    assert r["rel_err_r"] < 2.0


def test_rendezvous_remap_identity(row):
    rs = row("a218_rendezvous_hashing")
    assert len(rs) == 8
    n = sum(r["n_docs"] for r in rs)
    assert n > 0
    node0 = next(r for r in rs if r["node"] == 0)
    # removing node 0 remaps EXACTLY node 0's residents
    assert node0["hrw_remap_ppm"] == node0["share_ppm"]
    # mod-N rehash remaps almost everything
    assert node0["mod_remap_ppm"] > 500_000
    for r in rs:
        assert 40_000 <= r["share_ppm"] <= 300_000


def test_l_diversity_bounds(row):
    rs = row("a219_l_diversity_tcloseness")
    for r in rs:
        assert 1 <= r["l_distinct"] <= 5
        assert r["k"] >= r["l_distinct"]
        assert -1e-9 <= r["entropy_r"] <= math.log(5) + 1e-6
        assert 0 <= r["t_micro"] <= 1_000_000
        assert r["l3_ok"] == (1 if r["l_distinct"] >= 3 else 0)


def test_dedup_scaling_nested(row):
    rs = sorted(row("a220_dedup_scaling_curve"), key=lambda r: r["subset_16ths"])
    assert [r["subset_16ths"] for r in rs] == [1, 2, 4, 8, 16]
    for i in range(1, 5):
        # nested subsets: docs, distincts and duplicates all grow
        assert rs[i]["n_docs"] >= rs[i - 1]["n_docs"]
        assert rs[i]["n_distinct"] >= rs[i - 1]["n_distinct"]
        assert rs[i]["dups"] >= rs[i - 1]["dups"]
    for r in rs:
        assert r["n_distinct"] <= r["n_docs"]
        assert r["dups"] == r["n_docs"] - r["n_distinct"]


def test_chain_ladder_reserves(row):
    rs = row("a221_chain_ladder")
    assert len(rs) == 12
    for r in rs:
        # cumulative paid only grows, so factors >= 1 and reserve >= 0
        assert r["reserve_cents"] >= 0
        assert r["ultimate_cents"] >= r["latest_cents"]
        assert r["dlast"] <= min(5, 11 - r["origin"])


def test_bullwhip_ratio_consistent(row):
    r = row("a222_bullwhip_effect")[0]
    assert r["cv2_demand_r"] > 0 and r["cv2_ship_r"] > 0
    assert abs(
        r["bullwhip_r"] - r["cv2_ship_r"] / r["cv2_demand_r"]
    ) < 1e-4


def test_spt_minimizes_total_flow(row):
    rs = {r["rule"]: r for r in row("a223_dispatch_rules")}
    assert set(rs) == {"fifo", "spt", "edd"}
    n = {r["n_jobs"] for r in rs.values()}
    assert len(n) == 1
    # the classic exchange-argument theorem: SPT minimizes total flow
    assert rs["spt"]["total_flow"] <= rs["fifo"]["total_flow"]
    assert rs["spt"]["total_flow"] <= rs["edd"]["total_flow"]
    for r in rs.values():
        assert 0 <= r["n_tardy"] <= r["n_jobs"]
        assert r["total_tardiness"] >= 0


def test_skill_scores_recompute(row):
    r = row("a224_heidke_peirce_skill")[0]
    tp, fp, fn, tn = r["tp"], r["fp"], r["fn"], r["tn"]
    hss = 2 * (tp * tn - fp * fn) / (
        (tp + fn) * (fn + tn) + (tp + fp) * (fp + tn)
    )
    pss = (tp * tn - fp * fn) / ((tp + fn) * (fp + tn))
    assert abs(r["hss_r"] - hss) < 1e-6
    assert abs(r["pss_r"] - pss) < 1e-6
    assert -1 <= r["hss_r"] <= 1 and -1 <= r["pss_r"] <= 1
    assert 0 <= r["balanced_acc_r"] <= 1


def test_mg1_consistency(row):
    r = row("a225_mg1_pollaczek")[0]
    assert abs(r["rho_r"] - r["lambda_r"] * r["es_r"]) < 1e-3
    assert r["es2_r"] >= r["es_r"] ** 2 - 1e-6  # E[S^2] >= E[S]^2
    if r["saturated"] == 0:
        assert r["wq_r"] >= 0
        assert abs(r["lq_r"] - r["lambda_r"] * r["wq_r"]) < 1e-2


def test_ripley_k_monotone(row):
    rs = sorted(row("a226_ripley_k"), key=lambda r: r["r"])
    assert [r["r"] for r in rs] == [25000, 50000, 100000]
    assert rs[0]["n"] <= 2048
    for i in range(1, 3):
        assert rs[i]["n_within"] >= rs[i - 1]["n_within"]
        assert rs[i]["k_hat_floor"] >= rs[i - 1]["k_hat_floor"]
    # CSR-by-construction field: L(r) - r should be small vs r
    for r in rs:
        assert abs(r["l_minus_r_r"]) < 0.25 * r["r"]


def test_life_table_conservation(row):
    rs = sorted(row("a227_life_table"), key=lambda r: r["x"])
    assert len(rs) == 10
    total_deaths = sum(r["d_x"] for r in rs)
    assert rs[0]["l_x"] == total_deaths
    for i in range(1, 10):
        assert rs[i]["l_x"] <= rs[i - 1]["l_x"]
        assert rs[i - 1]["l_x"] - rs[i]["l_x"] == rs[i - 1]["d_x"]
    last_alive = [r for r in rs if r["l_x"] > 0][-1]
    assert last_alive["q_x_micro"] == 1_000_000
    for r in rs:
        assert 0 <= r["q_x_micro"] <= 1_000_000


def test_ransac_sanity(row, daily):
    r = row("a228_ransac_line")[0]
    n = len(daily)
    assert 2 <= r["n_inliers"] <= n
    assert 0 <= r["c"] <= 63
    assert math.isfinite(r["slope_r"])
    assert math.isfinite(r["intercept_r"])
    # the OLS refit runs on the candidate's inliers, so its line cannot
    # drift far from the candidate line (tol = mean/20 per unit step)
    v = [x[1] for x in daily]
    tol = max(1, sum(v) // (n * 20))
    assert abs(r["slope_r"] - r["cand_slope_r"]) <= 2 * tol


def test_cka_bounds(row):
    r = row("a229_cka_quantization_audit")[0]
    assert r["n_panel"] == 256
    assert r["n_cells"] == 64 * 64
    # int8 quantization of milli-fixed coords is near-lossless, and
    # CKA is a normalized inner product: in (0, 1].
    assert 0.9 < r["cka_r"] <= 1.0 + 1e-9


def test_preference_cycles_census(row):
    r = row("a230_preference_cycles")[0]
    assert r["n_parts"] == 12
    # 3-way join over ordered pairs enumerates each triple once
    assert r["n_triads"] == 220
    assert 0 <= r["n_tied"] <= r["n_triads"]
    assert 0 <= r["n_cyclic"] <= r["n_triads"] - r["n_tied"]
    assert 0 <= r["transitivity_ppm"] <= 1_000_000


def test_crow_amsaa_fit(row):
    r = row("a231_crow_amsaa")[0]
    assert r["n_points"] >= 2
    # cumulative counts grow, so the log-log slope is positive
    assert r["beta_r"] > 0
    assert r["reliability_growth"] in (0, 1)
    assert r["reliability_growth"] == (1 if r["beta_r"] < 1 else 0)


# ---------------------------------------------------------------------------
# a232-a241 extension tranche
# ---------------------------------------------------------------------------


def _cluster_contingency(sf_dir):
    """Independent Python rebuild of the a232/a233 planted-twin corpus."""
    import collections
    import hashlib

    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    cont = collections.Counter()
    for doc_id, text in rows:
        norm = text.lower()
        twin = "zq " + norm if doc_id % 7 == 0 else norm + " zq"
        for txt in (norm, twin):
            pred = hashlib.md5(txt[:40].encode("utf-8")).hexdigest()
            cont[(pred, doc_id)] += 1
    return cont


def test_bcubed_recompute(row, sf_dir):
    r = row("a232_bcubed_cluster_eval")[0]
    cont = _cluster_contingency(sf_dir)
    n = sum(cont.values())
    np_, ng = {}, {}
    for (p, g), c in cont.items():
        np_[p] = np_.get(p, 0) + c
        ng[g] = ng.get(g, 0) + c
    assert r["n_items"] == n
    assert r["n_pred_clusters"] == len(np_)
    assert r["n_gold_families"] == len(ng)
    bp = sum(c * c / np_[p] for (p, g), c in cont.items()) / n
    br = sum(c * c / ng[g] for (p, g), c in cont.items()) / n
    assert abs(r["bcubed_p_r"] - bp) < 2e-4  # per-cell micro floor bias
    assert abs(r["bcubed_r_r"] - br) < 2e-4
    tp = sum(c * (c - 1) // 2 for c in cont.values())
    pp = sum(c * (c - 1) // 2 for c in np_.values())
    gp = sum(c * (c - 1) // 2 for c in ng.values())
    assert abs(r["pair_precision_r"] - tp / pp) < 1e-6
    assert abs(r["pair_recall_r"] - tp / gp) < 1e-6
    # harmonic mean is bracketed by min and max of its arguments
    for p_, r_, f_ in (
        (r["bcubed_p_r"], r["bcubed_r_r"], r["bcubed_f1_r"]),
        (r["pair_precision_r"], r["pair_recall_r"], r["pair_f1_r"]),
    ):
        assert 0.0 <= f_ <= 1.0
        assert min(p_, r_) - 1e-6 <= f_ <= max(p_, r_) + 1e-6


def test_v_measure_recompute(row, sf_dir):
    r = row("a233_v_measure_cluster_eval")[0]
    cont = _cluster_contingency(sf_dir)
    n = sum(cont.values())
    np_, ng = {}, {}
    for (p, g), c in cont.items():
        np_[p] = np_.get(p, 0) + c
        ng[g] = ng.get(g, 0) + c
    hck = sum(c * math.log(np_[p] / c) for (p, g), c in cont.items()) / n
    hkc = sum(c * math.log(ng[g] / c) for (p, g), c in cont.items()) / n
    hc = sum(c * math.log(n / c) for c in ng.values()) / n
    hk = sum(c * math.log(n / c) for c in np_.values()) / n
    h = 1 - hck / hc if hc else 1.0
    co = 1 - hkc / hk if hk else 1.0
    v = 2 * h * co / (h + co) if h + co else 0.0
    assert abs(r["h_c_given_k_r"] - hck) < 1e-4
    assert abs(r["homogeneity_r"] - h) < 1e-4
    assert abs(r["completeness_r"] - co) < 1e-4
    assert abs(r["v_measure_r"] - v) < 1e-4
    assert 0.0 <= r["homogeneity_r"] <= 1.0
    assert 0.0 <= r["completeness_r"] <= 1.0


def test_spiegelhalter_consistency(row):
    r = row("a234_spiegelhalter_z")[0]
    # z reproduces from the exact integer numerator/denominator columns
    if r["z_den_e4"] > 0:
        z = r["z_num_centi"] / math.sqrt(r["z_den_e4"])
        assert abs(r["z_r"] - z) < 1e-5
        assert r["miscalibrated_flag"] == (1 if abs(z) > 1.959964 else 0)
    assert r["n_users"] > 0


def test_lomb_scargle_recompute(row, daily):
    rs = sorted(row("a235_lomb_scargle"), key=lambda r: r["period_days"])
    assert [r["period_days"] for r in rs] == [7, 30, 91, 365]
    # independent float Lomb-Scargle on the same unit-scaled panel
    ys = [x[2] for x in daily]
    u = max(1, (sum(ys) // len(ys)) // 3000)
    yk = [y // u for y in ys]
    d0 = daily[0][0]
    ts = [(x[0] - d0).days for x in daily]
    n = len(yk)
    mean = sum(yk) / n
    var = sum((y - mean) ** 2 for y in yk) / n
    for r in rs:
        w = 2 * math.pi / r["period_days"]
        s2 = sum(math.sin(2 * w * t) for t in ts)
        c2 = sum(math.cos(2 * w * t) for t in ts)
        tau = math.atan2(s2, c2) / (2 * w)
        a = sum((y - mean) * math.cos(w * (t - tau)) for y, t in zip(yk, ts))
        b = sum((y - mean) * math.sin(w * (t - tau)) for y, t in zip(yk, ts))
        cc = sum(math.cos(w * (t - tau)) ** 2 for t in ts)
        ss = sum(math.sin(w * (t - tau)) ** 2 for t in ts)
        p = 0.5 * (a * a / cc + b * b / ss) / var
        assert r["power_norm_r"] >= 0.0
        assert abs(r["power_norm_r"] - p) < 1e-3
        assert r["n_days"] == n


def test_adstock_recompute(row, daily):
    r = row("a236_adstock_transform")[0]
    ys = [x[2] for x in daily]
    u = max(1, (sum(ys) // len(ys)) // 3000)
    yk = [y // u for y in ys]
    vs = [x[1] for x in daily]
    theta = 0.7
    xs, ws, yy = [], [], []
    for i in range(7, len(vs)):
        xs.append(sum(theta**l * vs[i - l] for l in range(8)))
        ws.append(vs[i])
        yy.append(yk[i])
    assert r["n_days"] == len(xs)

    def corr(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        num = n * sum(x * y for x, y in zip(a, b)) - sa * sb
        da = n * sum(x * x for x in a) - sa * sa
        db = n * sum(y * y for y in b) - sb * sb
        return num / math.sqrt(da) / math.sqrt(db) if da > 0 and db > 0 else 0

    # unit-scaling floors shift the correlations only marginally
    assert abs(r["corr_raw_r"] - corr(ws, yy)) < 5e-3
    assert abs(r["corr_adstock_r"] - corr(xs, yy)) < 5e-3
    assert -1.0 <= r["corr_raw_r"] <= 1.0
    assert -1.0 <= r["corr_adstock_r"] <= 1.0


def test_siegel_tukey_recompute(row, sf_dir):
    import duckdb

    r = row("a237_siegel_tukey")[0]
    rows = duckdb.sql(
        f"""SELECT CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT),
                   o_orderkey,
                   CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
            FROM '{sf_dir}/orders.parquet'
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
            ORDER BY 1, 2"""
    ).fetchall()
    n = len(rows)
    assert r["n_total"] == n
    # deal Siegel-Tukey ranks alternately from the extremes
    # textbook dealing: 1 -> min; 2,3 -> the two maxima; 4,5 -> the next
    # two minima; 6,7 -> the next two maxima; ...
    w = [0] * n
    lo, hi, nxt, side, first = 0, n - 1, 1, "low", True
    while lo <= hi:
        if side == "low":
            for _ in range(1 if first else 2):
                if lo > hi:
                    break
                w[lo] = nxt
                nxt += 1
                lo += 1
            first, side = False, "high"
        else:
            for _ in range(2):
                if lo > hi:
                    break
                w[hi] = nxt
                nxt += 1
                hi -= 1
            side = "low"
    wa = sum(wi for wi, (c, k, ga) in zip(w, rows) if ga == 1)
    assert r["w_stat"] == wa
    na = sum(1 for _, _, ga in rows if ga == 1)
    z = (wa - na * (n + 1) / 2.0) / math.sqrt(
        na * (n - na) * (n + 1) / 12.0
    )
    assert abs(r["z_r"] - z) < 1e-5


def test_loglogistic_bounds(row, sf_dir):
    import duckdb

    r = row("a238_loglogistic_aft")[0]
    assert r["n_quantile_points"] == 10
    assert r["shape_r"] > 0  # durations grow with q by construction
    assert 0.0 <= r["r2_r"] <= 1.0
    lo, hi = duckdb.sql(
        f"""SELECT MIN(d), MAX(d) FROM (
              SELECT CAST(CAST(l.l_shipdate AS DATE)
                          - CAST(o.o_orderdate AS DATE) AS BIGINT) + 1 AS d
              FROM '{sf_dir}/lineitem.parquet' l
              JOIN '{sf_dir}/orders.parquet' o
                ON l.l_orderkey = o.o_orderkey
              WHERE CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
            )"""
    ).fetchone()
    # the fitted median (= scale) must sit inside the observed support
    assert lo <= r["scale_days_r"] <= hi


def test_turning_points_recompute(row, daily):
    r = row("a239_turning_points_test")[0]
    v = [x[1] for x in daily]
    n = len(v)
    t = sum(
        1
        for i in range(1, n - 1)
        if (v[i] > v[i - 1] and v[i] > v[i + 1])
        or (v[i] < v[i - 1] and v[i] < v[i + 1])
    )
    assert r["n_days"] == n
    assert r["turning_points"] == t
    z = (t - 2 * (n - 2) / 3) / math.sqrt((16 * n - 29) / 90)
    assert abs(r["z_r"] - z) < 1e-5
    assert r["nonrandom_flag"] == (1 if abs(z) > 1.959964 else 0)


def test_cusum_squares_recompute(row, daily):
    r = row("a240_cusum_squares_break")[0]
    ys = [x[2] for x in daily]
    u = max(1, (sum(ys) // len(ys)) // 3000)
    sq = [(y // u) ** 2 for y in ys]
    n = len(sq)
    sn = sum(sq)
    best_num, best_k = -1, None
    sk = 0
    for k, s in enumerate(sq, start=1):
        sk += s
        num = abs(sk * n - k * sn)
        if num > best_num:
            best_num, best_k = num, k
    assert r["n_days"] == n
    assert r["k_at_max"] == best_k
    assert abs(r["dmax_r"] - best_num / n / sn) < 1e-6
    assert r["break_date"] == daily[best_k - 1][0]
    assert 0.0 <= r["dmax_r"] <= 1.0


def test_renewal_function_recompute(row, sf_dir):
    import duckdb

    rs = sorted(row("a241_renewal_function"), key=lambda r: r["horizon_days"])
    assert [r["horizon_days"] for r in rs] == [7, 30, 91, 182, 365]
    rows = duckdb.sql(
        f"""SELECT o_custkey, CAST(o_orderdate AS DATE)
            FROM '{sf_dir}/orders.parquet'"""
    ).fetchall()
    firsts = {}
    for c, d in rows:
        if c not in firsts or d < firsts[c]:
            firsts[c] = d
    prev = -1
    for r in rs:
        h = r["horizon_days"]
        reps = sum(
            1 for c, d in rows if 0 < (d - firsts[c]).days <= h
        )
        assert r["repeat_orders"] == reps
        assert r["n_customers"] == len(firsts)
        assert r["m_hat_ppm"] == reps * 1_000_000 // len(firsts)
        # the renewal function is nondecreasing in the horizon
        assert r["m_hat_ppm"] >= prev
        prev = r["m_hat_ppm"]
