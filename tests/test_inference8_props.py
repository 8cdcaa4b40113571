"""Textbook-invariant property checks for the round-10 battery
extension 4 (grouper_spark/queries/inference8.py, a599-a610).

Same contract as test_inference7_props.py: the parity gate proves
Spark == DuckDB but cannot catch a formula BOTH sides encode wrong --
these pin each statistic to independent recomputations (numpy lstsq,
statistics.NormalDist inverse CDF, pure-Python rank dealing) and to
bounds/identities of the statistic itself. Each query runs once at
sf0.001 on the shared session."""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from statistics import NormalDist

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
def panel(spark, sf_dir):
    from grouper_spark.queries.inference7 import _tdk

    out = defaultdict(list)
    for r in _tdk(spark, sf_dir).orderBy("grp", "k").collect():
        out[r["grp"]].append(r["y"])
    return dict(out)


@pytest.fixture(scope="module")
def dailyvk(spark, sf_dir):
    # Daily whole-dollar revenue in the adaptive unit, recomputed here:
    # yk = y // max(1, mean(y) // 3000) with the mean by floor division.
    from grouper_spark.functions.text import money_units
    from grouper_spark.queries._series import daily_orders
    from grouper_spark.sources import table

    ys = [
        r["y"]
        for r in daily_orders(
            table(spark, sf_dir, "orders"),
            money_units("o_totalprice", 100).alias("y"),
        ).orderBy("d").collect()
    ]
    u = max(1, (sum(ys) // len(ys)) // 3000)
    return [y // u for y in ys]


def _ols_sse(xs, ys):
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    cxx = sxx - sx * sx / n
    cxy = sxy - sx * sy / n
    cyy = syy - sy * sy / n
    return cyy - cxy * cxy / cxx


def test_mincer_zarnowitz_recompute(row, dailyvk):
    np = pytest.importorskip("numpy")
    (r,) = row("a601_mincer_zarnowitz")
    a = np.array(dailyvk[1:], dtype=float)
    f = np.array(dailyvk[:-1], dtype=float)
    assert r["m"] == len(a)
    x = np.column_stack([np.ones_like(f), f])
    beta, *_ = np.linalg.lstsq(x, a, rcond=None)
    sse = float(((a - x @ beta) ** 2).sum())
    sdd = float(((a - f) ** 2).sum())
    m = len(a)
    assert r["alpha_r"] == pytest.approx(beta[0], abs=1e-3)
    assert r["beta_r"] == pytest.approx(beta[1], abs=1e-5)
    fstat = ((sdd - sse) / 2) / (sse / (m - 2))
    assert r["mz_f_r"] == pytest.approx(fstat, rel=1e-4, abs=1e-4)
    assert r["mz_f_r"] >= 0


def test_hoover_palma_recompute(spark, sf_dir, row):
    from pyspark.sql import functions as F

    from grouper_spark.sources import table

    o = table(spark, sf_dir, "orders")
    xs = sorted(
        r["x"]
        for r in o.groupBy("o_custkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100.0, 0) AS BIGINT))"
                " div 10000 AS BIGINT)"
            ).alias("x")
        )
        .collect()
    )
    (r,) = row("a602_hoover_palma")
    n, s = len(xs), sum(xs)
    assert (r["n"], r["s"]) == (n, s)
    assert r["habs"] == sum(abs(n * x - s) for x in xs)
    assert r["hoover"] == r["habs"] / (2 * n * s)
    assert 0.0 <= r["hoover"] <= 1.0
    top10 = sum(xs[(9 * n) // 10 :])
    bot40 = sum(xs[: (4 * n) // 10])
    assert (r["top10"], r["bot40"]) == (top10, bot40)
    assert r["palma"] == top10 / bot40
    assert r["s80s20"] == sum(xs[(8 * n) // 10 :]) / sum(xs[: n // 5])
    # tail shares are ordered: S80/S20 >= 1, Palma > 0
    assert r["s80s20"] >= 1.0 and r["palma"] > 0


def test_quandt_andrews_recompute(row, panel):
    rs = {r["grp"]: r for r in row("a603_quandt_andrews")}
    for grp, ys in panel.items():
        n = len(ys)
        ks = list(range(1, n + 1))
        ssep = _ols_sse(ks, ys)
        best = (-1.0, None)
        lo = max(4, (3 * n) // 20)
        hi = min(n - 4, (17 * n) // 20)
        for tau in range(lo, hi + 1):
            sse1 = _ols_sse(ks[:tau], ys[:tau])
            sse2 = _ols_sse(ks[tau:], ys[tau:])
            if sse1 + sse2 > 0 and n > 4:
                fv = ((ssep - sse1 - sse2) / 2) / ((sse1 + sse2) / (n - 4))
                if fv > best[0]:
                    best = (fv, tau)
        r = rs[grp]
        if r["supf_r"] is not None:
            assert r["tau_hat"] == best[1]
            assert r["supf_r"] == pytest.approx(best[0], rel=1e-4, abs=1e-4)
            assert r["supf_r"] >= 0


def test_mosum_recompute(spark, sf_dir, row):
    from pyspark.sql import functions as F

    from grouper_spark.sources import table

    ev = table(spark, sf_dir, "events")
    rows = (
        ev.groupBy(
            F.col("event_type").alias("grp"),
            F.date_trunc("day", "ts").cast("date").alias("d"),
        )
        .agg(F.count("*").alias("c"))
        .orderBy("grp", "d")
        .collect()
    )
    series = defaultdict(list)
    for r in rows:
        series[r["grp"]].append((r["d"], r["c"]))
    out = {r["grp"]: r for r in row("a605_mosum_monitor")}
    for grp, dcs in series.items():
        cs = [c for _, c in dcs]
        n, s = len(cs), sum(cs)
        nd = [n * c - s for c in cs]
        assert sum(nd) == 0  # deviations from the mean sum to zero
        m7 = [sum(nd[i - 6 : i + 1]) for i in range(6, n)]
        peak = max(abs(v) for v in m7)
        r = out[grp]
        assert r["mosum_abs"] == peak
        idx = min(i for i, v in enumerate(m7) if abs(v) == peak)
        assert r["peak_d"] == dcs[idx + 6][0]
        snd2 = sum(v * v for v in nd)
        if snd2:
            assert r["mosum_z_r"] == pytest.approx(
                peak / math.sqrt(7 * snd2 / n), abs=5e-7
            )


def _doubled_midranks(values):
    cnt = Counter(values)
    r2 = {}
    below = 0
    for v in sorted(cnt):
        r2[v] = 2 * below + cnt[v] + 1
        below += cnt[v]
    return r2


def test_lepage_recompute(row, panel):
    xs, ys = panel["purchase"], panel["view"]
    pooled = xs + ys
    r2 = _doubled_midranks(pooled)
    nt = len(pooled)
    m, nn = len(xs), len(ys)
    w2 = sum(r2[v] for v in xs)
    a2s = {v: min(r, 2 * (nt + 1) - r) for v, r in r2.items()}
    ab2 = sum(a2s[v] for v in xs)
    (r,) = row("a600_lepage_test")
    assert (r["m"], r["nn"], r["w2"], r["ab2"]) == (m, nn, w2, ab2)
    # doubled midranks over the pool always sum to N(N+1)
    assert sum(r2[v] for v in pooled) == nt * (nt + 1)

    def _z(stat, scores):
        sw = sum(scores[v] for v in pooled)
        sww = sum(scores[v] ** 2 for v in pooled)
        e = m * sw / nt
        var = m * nn * (nt * sww - sw * sw) / (nt**2 * (nt - 1))
        return (stat - e) / math.sqrt(var)

    zw = _z(w2, r2)
    za = _z(ab2, a2s)
    assert r["zw_r"] == pytest.approx(zw, abs=5e-7)
    assert r["za_r"] == pytest.approx(za, abs=5e-7)
    assert r["lepage_d_r"] == pytest.approx(zw * zw + za * za, abs=2e-6)


def test_fisher_g_recompute(row, panel):
    rs = {r["grp"]: r for r in row("a604_fisher_g_test")}
    for grp, ys in panel.items():
        n = len(ys)
        q = (n - 1) // 2
        r = rs[grp]
        assert (r["n"], r["q"]) == (n, q)
        powers = {}
        for j in range(1, q + 1):
            aj = sum(
                round(1000.0 * y * math.cos(2 * math.pi * ((j * k) % n) / n))
                for k, y in enumerate(ys, start=1)
            )
            bj = sum(
                round(1000.0 * y * math.sin(2 * math.pi * ((j * k) % n) / n))
                for k, y in enumerate(ys, start=1)
            )
            powers[j] = aj * aj + bj * bj
        ptot = sum(powers.values())
        pmax = max(powers.values())
        jpk = min(j for j, p in powers.items() if p == pmax)
        assert (r["j_peak"], r["pmax"], r["ptot"]) == (jpk, pmax, ptot)
        g = pmax / ptot
        assert r["g"] == g
        assert 1.0 / q <= g <= 1.0  # the max ordinate holds >= mean share
        # exact Fisher null p from the emitted g
        p = sum(
            (-1) ** (kk - 1) * math.comb(q, kk) * (1 - kk * g) ** (q - 1)
            for kk in range(1, q + 1)
            if kk * g < 1
        )
        assert r["p_r"] == pytest.approx(min(1.0, max(0.0, p)), abs=2e-6)


def test_bws_recompute(row, panel):
    xs = [("purchase", k, y) for k, y in enumerate(panel["purchase"], 1)]
    ys = [("view", k, y) for k, y in enumerate(panel["view"], 1)]
    pooled = sorted(xs + ys, key=lambda t: (t[2], t[0], t[1]))
    ranks = {(g, k): i + 1 for i, (g, k, _) in enumerate(pooled)}
    m, nn = len(xs), len(ys)
    nt = m + nn

    def _b(side, sz, osz):
        rs = sorted(r for (g, k), r in ranks.items() if g == side)
        tot = 0.0
        for i, r in enumerate(rs, start=1):
            num = (r - (nt / sz) * i) ** 2
            den = (i / (sz + 1)) * (1 - i / (sz + 1)) * (osz * nt / sz)
            tot += num / den
        return tot / sz

    bx = _b("purchase", m, nn)
    by = _b("view", nn, m)
    (r,) = row("a606_bws_test")
    assert (r["m"], r["nn"]) == (m, nn)
    assert r["bx_r"] == pytest.approx(bx, abs=2e-5)
    assert r["by_r"] == pytest.approx(by, abs=2e-5)
    assert r["bws_b_r"] == pytest.approx((bx + by) / 2, abs=2e-5)
    assert r["bws_b_r"] >= 0


def test_fligner_killeen_recompute(spark, sf_dir, row):
    from pyspark.sql import functions as F

    from grouper_spark.sources import table

    ev = table(spark, sf_dir, "events")
    rows = ev.select(
        F.col("event_type").alias("g"),
        F.expr("CAST(ROUND(value * 100.0, 0) AS BIGINT)").alias("x"),
    ).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r["g"]].append(r["x"])
    devs = {}
    for g, xs in groups.items():
        xs = sorted(xs)
        n = len(xs)
        med2 = xs[(n + 1) // 2 - 1] + xs[n // 2]
        devs[g] = [abs(2 * x - med2) for x in xs]
    pooled = [d for ds in devs.values() for d in ds]
    nt = len(pooled)
    r2 = _doubled_midranks(pooled)
    nd = NormalDist()
    score = {v: nd.inv_cdf(0.5 + r / (4 * (nt + 1))) for v, r in r2.items()}
    means = {g: sum(score[d] for d in ds) / len(ds) for g, ds in devs.items()}
    abar = sum(score[d] for d in pooled) / nt
    v = sum((score[d] - abar) ** 2 for d in pooled) / (nt - 1)
    stat = sum(len(devs[g]) * (means[g] - abar) ** 2 for g in devs) / v
    out = {r["grp"]: r for r in row("a599_fligner_killeen")}
    assert set(out) == set(devs)
    for g, r in out.items():
        assert r["ng"] == len(devs[g])
        assert r["df"] == len(devs) - 1
        # A&S-26.2.23 inverse normal carries |eps| < 4.5e-4 per score;
        # compare against the exact inverse with a loose band.
        assert r["ga_r"] == pytest.approx(means[g], abs=2e-3)
        assert r["fk_stat_r"] == pytest.approx(stat, rel=0.05, abs=0.05)
        assert r["fk_stat_r"] >= 0


def test_watson_u2_recompute(spark, sf_dir, row):
    from pyspark.sql import functions as F

    from grouper_spark.sources import table

    ev = table(spark, sf_dir, "events")
    ts = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("d"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(EXTRACT(hour FROM ts) * 3600"
                " + EXTRACT(minute FROM ts) * 60"
                " + EXTRACT(second FROM CAST(date_trunc('second', ts)"
                " AS TIMESTAMP)) AS BIGINT)) div COUNT(*) AS BIGINT)"
            ).alias("t")
        )
        .orderBy("t", "d")
        .collect()
    )
    t = [r["t"] for r in ts]
    n, st = len(t), sum(t)
    ws = [
        2 * n * ti - (2 * i - 1) * 86400 - 2 * st + n * 86400
        for i, ti in enumerate(t, start=1)
    ]
    sw2 = sum(w * w for w in ws)
    (r,) = row("a607_watson_u2")
    assert (r["n"], r["sw2"]) == (n, sw2)
    u2 = sw2 / (4 * n * n * 86400.0 * 86400.0) + 1 / (12 * n)
    assert r["u2"] == u2
    assert u2 > 0
    # direct-definition recompute: U2 = sum(u_i - (2i-1)/2n - ubar + 1/2)^2
    # + 1/(12n), with u_i = t_i / T
    us = [ti / 86400 for ti in t]
    ub = sum(us) / n
    direct = (
        sum(
            (u - (2 * i - 1) / (2 * n) - ub + 0.5) ** 2
            for i, u in enumerate(us, start=1)
        )
        + 1 / (12 * n)
    )
    assert u2 == pytest.approx(direct, rel=1e-9)
    assert r["u2_mod_r"] == pytest.approx(
        (u2 - 0.1 / n + 0.1 / n**2) * (1 + 0.8 / n), abs=5e-7
    )


@pytest.fixture(scope="module")
def nation_p(spark, sf_dir):
    from pyspark.sql import functions as F

    from grouper_spark.sources import table

    c = table(spark, sf_dir, "customer")
    xs = {
        r["nk"]: r["x"]
        for r in c.groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .collect()
    }
    n = sum(xs.values())
    nd = NormalDist()
    return {
        nk: 2 * nd.cdf(-abs((25 * x - n) / math.sqrt(24 * n)))
        for nk, x in xs.items()
    }


def test_holm_recompute(row, nation_p):
    rs = row("a608_holm_stepdown")
    m = len(nation_p)
    assert len(rs) == m
    order = sorted(nation_p.items(), key=lambda kv: (kv[1], kv[0]))
    run = 0.0
    for i, (nk, p) in enumerate(order, start=1):
        run = max(run, min(1.0, (m - i + 1) * p))
        r = rs[i - 1]
        assert r["nk"] == nk and r["p_rank"] == i
        # shared A&S Phi carries |eps| < 7.5e-8 per tail
        assert r["p_r"] == pytest.approx(p, abs=1e-5)
        assert r["holm_r"] == pytest.approx(run, abs=3e-4)
        assert r["holm_r"] + 1e-9 >= r["p_r"]
        if i > 1:
            assert r["holm_r"] >= rs[i - 2]["holm_r"] - 1e-9


def test_storey_recompute(row, nation_p):
    rs = row("a609_storey_qvalue")
    m = len(nation_p)
    ps = sorted(nation_p.values())
    pi0 = min(1.0, sum(1 for p in ps if p > 0.5) / (0.5 * m))
    qs = [min(1.0, pi0 * m * p / (i + 1)) for i, p in enumerate(ps)]
    for i in range(m - 2, -1, -1):
        qs[i] = min(qs[i], qs[i + 1])
    for i, r in enumerate(rs):
        assert r["pi0_r"] == pytest.approx(pi0, abs=1e-4)
        assert r["q_r"] == pytest.approx(qs[i], abs=3e-4)
        assert 0.0 <= r["q_r"] <= 1.0
        if i > 0:
            assert r["q_r"] >= rs[i - 1]["q_r"] - 1e-9


def test_char_gibberish_recompute(spark, sf_dir, row):
    from grouper_spark.sources import table

    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    types: Counter = Counter()
    for t in docs.values():
        for i in range(len(t) - 1):
            types[t[i : i + 2]] += 1
    pref: Counter = Counter()
    for b, c in types.items():
        pref[b[0]] += c
    v2 = len({b[1] for b in types})
    sn = {
        b: round(1e9 * math.log((c + 1.0) / (pref[b[0]] + v2)))
        for b, c in types.items()
    }
    scored = []
    for did, t in docs.items():
        bgs = [t[i : i + 2] for i in range(len(t) - 1)]
        if not bgs:
            continue
        tot = sum(sn[b] for b in bgs)
        scored.append((did, len(bgs), -tot / (len(bgs) * 1e9)))
    scored.sort(key=lambda x: (-x[2], x[0]))
    rs = row("a610_char_gibberish")
    assert [(r["doc_id"], r["nb"]) for r in rs] == [
        (d, nb) for d, nb, _ in scored[:20]
    ]
    for r, (_, _, nll) in zip(rs, scored[:20]):
        assert r["nll"] == nll
        assert r["nll"] > 0  # mean NLL of a finite-prob model is positive
