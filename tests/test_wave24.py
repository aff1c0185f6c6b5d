"""Hand-computed unit tests for the wave-24 (round 11) operators:
time-series diagnostics (Durbin-Watson, Ljung-Box), paired tests
(McNemar, Page trend), Bartlett variance homogeneity, Hodges-Lehmann
shift, degree assortativity, and source diversity."""

from __future__ import annotations

import math

import pytest


def test_durbin_watson_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import durbin_watson

    ys = [3.0, 5.0, 4.0, 8.0, 6.0]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], "k long, y double"
    )
    n = len(ys)
    mean = sum(ys) / n
    num = sum((ys[t] - ys[t - 1]) ** 2 for t in range(1, n))
    den = sum((y - mean) ** 2 for y in ys)
    r = durbin_watson(df, "k", "y").collect()[0]
    assert r.n == n
    assert abs(r.dw - num / den) < 1e-9


def test_durbin_watson_gap_skips_pair(spark):
    from csp_gateway_spark.operators.analytics import durbin_watson

    # keys 0,1,5: only (0,1) is adjacent -> one difference
    df = spark.createDataFrame(
        [(0, 1.0), (1, 4.0), (5, 10.0)], "k long, y double"
    )
    r = durbin_watson(df, "k", "y").collect()[0]
    ys = [1.0, 4.0, 10.0]
    mean = sum(ys) / 3
    den = sum((y - mean) ** 2 for y in ys)
    assert abs(r.dw - 9.0 / den) < 1e-9


def test_ljung_box_matches_python(spark):
    from csp_gateway_spark.operators.analytics import ljung_box

    ys = [2.0, 4.0, 3.0, 5.0, 6.0, 4.0, 7.0, 5.0]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(ys)], "k long, y double"
    )
    n = len(ys)
    mean = sum(ys) / n
    den = sum((y - mean) ** 2 for y in ys)
    q = 0.0
    m = 3
    for k in range(1, m + 1):
        num = sum(
            (ys[t] - mean) * (ys[t + k] - mean) for t in range(n - k)
        )
        q += (num / den) ** 2 / (n - k)
    q *= n * (n + 2)
    r = ljung_box(df, "k", "y", max_lag=m).collect()[0]
    assert (r.n, r.m) == (n, m)
    assert abs(r.q_stat - q) < 1e-9


def test_mcnemar_textbook(spark):
    from csp_gateway_spark.operators.analytics import mcnemar_test

    # subjects: 3 yes->no, 1 no->yes, 2 yes->yes
    rows = []
    for i in range(3):
        rows.append((f"s{i}", "a", 1))
    rows.append(("s3", "b", 1))
    for i in (4, 5):
        rows.append((f"s{i}", "a", 1))
        rows.append((f"s{i}", "b", 1))
    df = spark.createDataFrame(rows, "s string, cond string, x int")
    r = mcnemar_test(df, "s", "cond", "x", "a", "b").collect()[0]
    assert (r.n_subjects, r.b, r.c) == (6, 3, 1)
    assert abs(r.chi2 - (abs(3 - 1) - 1) ** 2 / 4) < 1e-12


def test_page_trend_perfect_monotone(spark):
    from csp_gateway_spark.operators.analytics import page_trend_test

    # 3 blocks, 4 treatments t1<t2<t3<t4, values strictly increasing
    rows = [
        (b, f"t{j}", float(j)) for b in ("b1", "b2", "b3") for j in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "b string, t string, y double")
    r = page_trend_test(df, "b", "t", "y").collect()[0]
    n, k = 3, 4
    # perfect agreement: R_j = n*j, L = sum j * n * j
    l_exp = sum(j * n * j for j in range(1, k + 1))
    e_l = n * k * (k + 1) ** 2 / 4
    var_l = n * k**2 * (k + 1) * (k**2 - 1) / 144
    assert (r.n_blocks, r.k) == (n, k)
    assert abs(r.l_stat - l_exp) < 1e-9
    assert abs(r.z - (l_exp - e_l) / math.sqrt(var_l)) < 1e-9


def test_bartlett_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import bartlett_test

    data = {"g1": [1.0, 2.0, 3.0, 4.0], "g2": [2.0, 4.0, 6.0, 8.0, 10.0]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y double")
    n = sum(len(vs) for vs in data.values())
    k = len(data)

    def ssq(vs):
        m = sum(vs) / len(vs)
        return sum((v - m) ** 2 for v in vs)

    pooled = sum(ssq(vs) for vs in data.values()) / (n - k)
    num = (n - k) * math.log(pooled) - sum(
        (len(vs) - 1) * math.log(ssq(vs) / (len(vs) - 1)) for vs in data.values()
    )
    c = 1 + (sum(1 / (len(vs) - 1) for vs in data.values()) - 1 / (n - k)) / (
        3 * (k - 1)
    )
    r = bartlett_test(df, "g", "y").collect()[0]
    assert (r.n, r.k) == (n, k)
    assert abs(r.b_stat - num / c) < 1e-9


def test_bartlett_degenerate_group_nulls(spark):
    from csp_gateway_spark.operators.analytics import bartlett_test

    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", 2.0), ("g2", 5.0)], "g string, y double"
    )
    r = bartlett_test(df, "g", "y").collect()[0]
    assert r.b_stat is None


def test_hodges_lehmann_hand_computed(spark):
    from csp_gateway_spark.operators.analytics import hodges_lehmann

    a = [1.0, 5.0, 7.0]
    b = [2.0, 3.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    diffs = sorted(x - y for x in a for y in b)
    t = len(diffs)  # 6 -> median = avg of 3rd and 4th
    expected = (diffs[t // 2 - 1] + diffs[t // 2]) / 2
    r = hodges_lehmann(df, "g", "v", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.n_pairs) == (3, 2, 6)
    assert abs(r.hl_shift - expected) < 1e-12


def test_hodges_lehmann_odd_pairs(spark):
    from csp_gateway_spark.operators.analytics import hodges_lehmann

    a = [10.0, 20.0, 30.0]
    b = [5.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = hodges_lehmann(df, "g", "v", "a", "b").collect()[0]
    assert r.n_pairs == 3
    assert abs(r.hl_shift - 15.0) < 1e-12


def test_hodges_lehmann_max_cells_guard(spark):
    from csp_gateway_spark.operators.analytics import hodges_lehmann

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)], "g string, v double")
    with pytest.raises(ValueError, match="max_cells=2 \\(got 3\\)"):
        hodges_lehmann(df, "g", "v", "a", "b", max_cells=2)


def test_assortativity_star_is_minus_one(spark):
    from csp_gateway_spark.operators.corpus import degree_assortativity

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a long, id_b long"
    )
    r = degree_assortativity(edges).collect()[0]
    # star: every symmetrized edge pairs degree 4 with degree 1
    assert r.n_edges == 8
    assert abs(r.r - (-1.0)) < 1e-9


def test_assortativity_regular_graph_null(spark):
    from csp_gateway_spark.operators.corpus import degree_assortativity

    # 4-cycle: every node degree 2 -> zero variance -> NULL r
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "id_a long, id_b long"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.n_edges == 8 and r.r is None


def test_source_diversity_uniform_two_groups(spark):
    from csp_gateway_spark.operators.corpus import source_diversity

    docs = spark.createDataFrame(
        [(i, "s1" if i < 5 else "s2") for i in range(10)],
        "doc_id long, source string",
    )
    r = source_diversity(docs, "source").collect()[0]
    assert (r.n_docs, r.k_groups) == (10, 2)
    assert abs(r.shannon - math.log(2)) < 1e-12
    assert abs(r.simpson - 0.5) < 1e-12
    assert abs(r.eff_shannon - 2.0) < 1e-12
    assert abs(r.eff_simpson - 2.0) < 1e-12


def test_source_diversity_single_group(spark):
    from csp_gateway_spark.operators.corpus import source_diversity

    docs = spark.createDataFrame(
        [(i, "only") for i in range(4)], "doc_id long, source string"
    )
    r = source_diversity(docs, "source").collect()[0]
    assert r.shannon == 0.0 and abs(r.simpson - 1.0) < 1e-12


# --- wave 25: deterministic resampling -------------------------------------


def _h28(rep, ident):
    import hashlib

    return int(hashlib.md5(f"{rep}:{ident}".encode()).hexdigest()[:7], 16)


def test_bootstrap_weights_match_reference_hash(spark):
    """The in-plan Poisson weight must equal the Python-side inverse
    CDF at the same md5 hash (the determinism contract)."""
    from csp_gateway_spark.operators.analytics import (
        _POISSON1_THRESHOLDS, bootstrap_mean_ci,
    )

    rows = [(i, 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, y double")
    out = bootstrap_mean_ci(df, "id", "y", reps=4).collect()[0]
    assert out.n == 200 and out.reps == 4
    # all values 1.0 -> every replicate mean is exactly 1.0
    assert out.mean == 1.0 and out.ci_lo == 1.0 and out.ci_hi == 1.0
    # spot-check the weight ladder against Python
    for rep in range(2):
        for ident in (0, 7, 123):
            x = _h28(rep, ident)
            w = sum(1 for t in _POISSON1_THRESHOLDS if x >= t)
            assert 0 <= w <= len(_POISSON1_THRESHOLDS)


def test_bootstrap_ci_brackets_mean(spark):
    from csp_gateway_spark.operators.analytics import bootstrap_mean_ci

    rows = [(i, float(i % 100)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, y double")
    out = bootstrap_mean_ci(df, "id", "y", reps=32, alpha=0.10).collect()[0]
    assert out.ci_lo <= out.mean <= out.ci_hi
    # CI should be tight around 49.5 for n=5000
    assert abs(out.mean - 49.5) < 1e-9
    assert out.ci_hi - out.ci_lo < 5.0


def test_signflip_detects_strong_shift(spark):
    from csp_gateway_spark.operators.analytics import signflip_test

    # every pair shifted by +10: observed |T| is the maximum possible,
    # so only sign patterns matching/spanning it count -> small p
    df = spark.createDataFrame(
        [(i, 10.0) for i in range(50)], "id long, d double"
    )
    r = signflip_test(df, "id", "d", reps=63).collect()[0]
    assert r.n_pairs == 50 and r.reps == 63
    assert r.t_obs == 500.0
    assert r.p_value <= 2.0 / 64.0


def test_signflip_null_is_uniformish(spark):
    from csp_gateway_spark.operators.analytics import signflip_test

    # symmetric differences: p should not be tiny
    df = spark.createDataFrame(
        [(i, 1.0 if i % 2 == 0 else -1.0) for i in range(100)],
        "id long, d double",
    )
    r = signflip_test(df, "id", "d", reps=63).collect()[0]
    assert r.t_obs == 0.0
    assert r.p_value == 1.0  # |T_r| >= 0 always


def test_jackknife_matches_manual(spark):
    from csp_gateway_spark.operators.analytics import jackknife_variance

    data = {"g1": [1.0, 2.0], "g2": [3.0, 4.0, 5.0], "g3": [10.0]}
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, y double")
    all_v = [v for vs in data.values() for v in vs]
    n, gc = len(all_v), len(data)
    thetas = []
    for g in data:
        rest = [v for gg, vs in data.items() if gg != g for v in vs]
        thetas.append(sum(rest) / len(rest))
    tbar = sum(thetas) / gc
    jvar = (gc - 1) / gc * sum((t - tbar) ** 2 for t in thetas)
    r = jackknife_variance(df, "g", "y").collect()[0]
    assert (r.n, r.g) == (n, gc)
    assert abs(r.theta - sum(all_v) / n) < 1e-12
    assert abs(r.jack_var - jvar) < 1e-9
