"""Welch t-test, chi-squared independence, ridge closed form, EWMA
fold — each checked against an independent reference computation
(scipy-free: closed forms on tiny fixtures)."""

import math

import numpy as np
import pytest

from hdfe_spark.operators.stats import (
    chi2_independence,
    ewma,
    ridge2,
    welch_ttest,
)


def test_welch_ttest_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a = np.round(rng.normal(10.0, 2.0, 400), 6)
    b = np.round(rng.normal(10.5, 3.0, 300), 6)
    df_a = spark.createDataFrame([(float(v),) for v in a], "v double")
    df_b = spark.createDataFrame([(float(v),) for v in b], "v double")
    got = welch_ttest(df_a, df_b, "v").collect()[0]
    na, nb = len(a), len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / na + vb / nb
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    dof = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    assert got["n_a"] == na and got["n_b"] == nb
    assert got["mean_a"] == pytest.approx(a.mean(), rel=1e-9)
    assert got["var_b"] == pytest.approx(vb, rel=1e-9)
    assert got["t_stat"] == pytest.approx(t, rel=1e-9)
    assert got["dof"] == pytest.approx(dof, rel=1e-9)


def test_welch_ttest_rejects_tiny(spark):
    one = spark.createDataFrame([(1.0,)], "v double")
    two = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    with pytest.raises(ValueError, match="2 non-null"):
        welch_ttest(one, two, "v")


def test_chi2_independence_2x2_closed_form(spark):
    # classic 2x2: obs [[10, 20], [30, 40]]
    rows = (
        [("x", "p")] * 10
        + [("x", "q")] * 20
        + [("y", "p")] * 30
        + [("y", "q")] * 40
    )
    df = spark.createDataFrame(rows, "a string, b string")
    out = {
        (r["a"], r["b"]): r
        for r in chi2_independence(df, "a", "b").collect()
    }
    assert len(out) == 4
    # margins: x=30, y=70, p=40, q=60, N=100
    cell = out[("x", "p")]
    assert cell["obs"] == 10
    assert cell["expected"] == pytest.approx(30 * 40 / 100.0)
    assert cell["chi2_term"] == pytest.approx((10 - 12.0) ** 2 / 12.0)
    chi2 = sum(r["chi2_term"] for r in out.values())
    # classic formula for 2x2: N(ad-bc)^2 / (row1 row2 col1 col2)
    expect = 100 * (10 * 40 - 20 * 30) ** 2 / (30 * 70 * 40 * 60)
    assert chi2 == pytest.approx(expect, rel=1e-12)


def test_ewma_matches_pandas_recursion(spark):
    import pandas as pd

    rows = [(1, i, float(v)) for i, v in enumerate([3, 1, 4, 1, 5, 9])]
    rows += [(2, 0, 7.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = {
        r["k"]: r for r in ewma(df, "k", "t", "v", alpha=0.5).collect()
    }
    want = (
        pd.Series([3, 1, 4, 1, 5, 9], dtype=float)
        .ewm(alpha=0.5, adjust=False)
        .mean()
        .iloc[-1]
    )
    assert got[1]["ewma"] == pytest.approx(want, rel=1e-12)
    assert got[1]["n"] == 6
    assert got[2]["ewma"] == 7.0  # single element: y_0 = x_0


def test_ewma_ignores_order_of_input_rows(spark):
    rows = [(1, 2, 4.0), (1, 0, 3.0), (1, 1, 1.0)]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = ewma(df, "k", "t", "v", alpha=0.5).collect()[0]["ewma"]
    # fold over t-order [3,1,4]: y=3 -> 2 -> 3
    assert got == 3.0


def test_ridge2_matches_numpy_closed_form(spark):
    rng = np.random.default_rng(11)
    x1 = np.round(rng.normal(0, 1, 500), 6)
    x2 = np.round(0.8 * x1 + rng.normal(0, 0.3, 500), 6)  # collinear-ish
    y = np.round(2.0 * x1 - 1.0 * x2 + 0.5 + rng.normal(0, 0.1, 500), 6)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    lam = 3.0
    got = ridge2(df, ["x1", "x2"], "y", lam).collect()[0]
    xc = np.column_stack([x1 - x1.mean(), x2 - x2.mean()])
    yc = y - y.mean()
    b = np.linalg.solve(xc.T @ xc + lam * np.eye(2), xc.T @ yc)
    assert got["b_x1"] == pytest.approx(b[0], rel=1e-6)
    assert got["b_x2"] == pytest.approx(b[1], rel=1e-6)
    a = y.mean() - b[0] * x1.mean() - b[1] * x2.mean()
    assert got["intercept"] == pytest.approx(a, rel=1e-6)
    # lam -> 0 recovers OLS
    ols = np.linalg.solve(xc.T @ xc, xc.T @ yc)
    got0 = ridge2(df, ["x1", "x2"], "y", 0.0).collect()[0]
    assert got0["b_x1"] == pytest.approx(ols[0], rel=1e-6)


def test_ridge2_shrinks_toward_zero(spark):
    rng = np.random.default_rng(3)
    x1 = rng.normal(0, 1, 200)
    x2 = rng.normal(0, 1, 200)
    y = x1 + x2
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    b_small = ridge2(df, ["x1", "x2"], "y", 0.1).collect()[0]
    b_big = ridge2(df, ["x1", "x2"], "y", 1e6).collect()[0]
    assert abs(b_big["b_x1"]) < abs(b_small["b_x1"]) < 1.01
    assert abs(b_big["b_x1"]) < 0.05


def test_mann_whitney_matches_scipy_formula(spark):
    from hdfe_spark.operators.stats import mann_whitney_u

    # small fixture with ties, hand-checkable
    a = [1.0, 2.0, 2.0, 5.0, 7.0]
    b = [2.0, 3.0, 6.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "side string, v double")
    got = mann_whitney_u(df, "side", "v", "a", "b").collect()[0]
    # reference: average ranks of pooled [1,2,2,2,3,5,6,6,7]
    # ranks:     [1, 3,3,3, 5, 6, 7.5,7.5, 9]
    ra = 1 + 3 + 3 + 6 + 9  # side a holds 1,2,2,5,7
    ua = ra - 5 * 6 / 2
    assert got["n_a"] == 5 and got["n_b"] == 4
    assert got["u_a"] == ua
    assert got["u_b"] == 5 * 4 - ua
    # tie groups: three 2s (c=3), two 6s (c=2)
    assert got["tie_term"] == (27 - 3) + (8 - 2)
    import math

    n = 9
    var = 5 * 4 / 12 * ((n + 1) - got["tie_term"] / (n * (n - 1)))
    assert got["z"] == pytest.approx(
        (ua - 5 * 4 / 2) / math.sqrt(var), rel=1e-12
    )


def test_ks_2sample_exact(spark):
    from hdfe_spark.operators.stats import ks_2sample

    a = [1.0, 2.0, 3.0, 4.0]
    b = [3.0, 4.0, 5.0, 6.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "side string, v double")
    got = ks_2sample(df, "side", "v", "a", "b").collect()[0]
    # ECDFs: at v=2, Fa=2/4, Fb=0 -> gap 1/2 (max)
    assert got["d_num"] == 8  # |2*4 - 0*4| = 8
    assert got["d"] == 0.5


def test_spearman_matches_scipy_style(spark):
    from hdfe_spark.operators.stats import spearman_corr

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(9)
    x = np.round(rng.normal(0, 1, 300), 3)  # 3 decimals -> real ties
    y = np.round(0.6 * x + rng.normal(0, 1, 300), 3)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "x double, y double",
    )
    got = spearman_corr(df, "x", "y").collect()[0]
    rx = pd.Series(x).rank(method="average")
    ry = pd.Series(y).rank(method="average")
    want = np.corrcoef(rx, ry)[0, 1]
    assert got["n"] == 300
    assert got["rho"] == pytest.approx(want, rel=1e-9)


def test_spearman_perfect_monotone(spark):
    from hdfe_spark.operators.stats import spearman_corr

    rows = [(float(i), float(i * i)) for i in range(1, 50)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["rho"] == pytest.approx(
        1.0
    )


def test_standardize_zero_mean_unit_var(spark):
    from hdfe_spark.operators.stats import standardize

    import numpy as np

    rng = np.random.default_rng(2)
    v = np.round(rng.normal(50, 10, 500), 6)
    df = spark.createDataFrame([(float(x),) for x in v], "v double")
    z = standardize(df, ["v"]).toPandas()["v_z"]
    assert z.mean() == pytest.approx(0.0, abs=1e-9)
    assert z.std(ddof=1) == pytest.approx(1.0, rel=1e-9)
    want = (v - v.mean()) / v.std(ddof=1)
    assert np.allclose(np.sort(z), np.sort(want), rtol=1e-6)


def test_huber_irls2_matches_numpy_replica(spark):
    from hdfe_spark.operators.stats import huber_irls2

    rng = np.random.default_rng(6)
    x = np.round(rng.uniform(0, 10, 400), 6)
    y = np.round(3.0 * x + 1.0 + rng.normal(0, 0.5, 400), 6)
    y[:8] += 500.0  # gross outliers
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "x double, y double",
    )
    delta = 2.0
    got = huber_irls2(df, "x", "y", delta=delta, n_iter=2).collect()[0]

    # numpy replica of the exact quantized algorithm
    xu = np.round(x * 1e6)
    yu = np.round(y * 1e6)
    W = 1 << 20

    def wls(w):
        sw = float((w).sum())
        swx, swy = float((w * xu).sum()), float((w * yu).sum())
        swxx = float((w * xu * xu).sum())
        swxy = float((w * xu * yu).sum())
        den = sw * swxx - swx * swx
        b1 = (sw * swxy - swx * swy) / den
        b0 = (swy - b1 * swx) / sw
        return b0, b1

    b0, b1 = wls(np.full_like(xu, W))
    ds = delta * 1e6
    for _ in range(2):
        r = np.abs(yu - b0 - b1 * xu)
        w = np.where(r <= ds, W, np.floor(ds / r * W))
        b0, b1 = wls(w)
    nd = int((w < W).sum())
    assert got["b1"] == pytest.approx(b1, rel=1e-12)
    assert got["b0"] == pytest.approx(b0 / 1e6, rel=1e-9)
    assert got["n_downweighted"] == nd
    # robustness: huber slope strictly closer to truth than OLS
    ols_b1 = np.polyfit(x, y, 1)[0]
    assert abs(got["b1"] - 3.0) < 0.1
    assert abs(got["b1"] - 3.0) < abs(ols_b1 - 3.0) / 2


def test_auc_score_exact(spark):
    from hdfe_spark.operators.stats import auc_score

    # perfect separation -> 1.0; ties at the boundary -> 0.5 credit
    rows = [(True, 0.9), (True, 0.8), (False, 0.2), (False, 0.1)]
    df = spark.createDataFrame(rows, "y boolean, s double")
    assert auc_score(df, "y", "s").collect()[0]["auc"] == 1.0

    rows = [(True, 0.9), (True, 0.5), (False, 0.5), (False, 0.1)]
    df = spark.createDataFrame(rows, "y boolean, s double")
    # pairs: (0.9>0.5)=1, (0.9>0.1)=1, (0.5=0.5)=0.5, (0.5>0.1)=1
    assert auc_score(df, "y", "s").collect()[0]["auc"] == 3.5 / 4

    # random scores -> near 0.5
    import numpy as np

    rng = np.random.default_rng(1)
    rows = [
        (bool(rng.integers(2)), float(round(rng.random(), 6)))
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, "y boolean, s double")
    got = auc_score(df, "y", "s").collect()[0]["auc"]
    assert 0.45 < got < 0.55


def test_gini_guards_the_raw_value(spark):
    # -1e-7 quantizes to 0 at the default scale; the global once
    # checked only the quantized minimum and returned n=3, gini=0.4,
    # where gini_by (which guards the raw value) raises
    from hdfe_spark.operators.stats import gini

    df = spark.createDataFrame([(-1e-7,), (2.0,), (3.0,)], "v double")
    with pytest.raises(ValueError, match="negative"):
        gini(df, "v")


def test_two_arm_globals_reject_equal_labels(spark):
    # a_label == b_label counts one arm as both; the globals once
    # returned z=0.0 / d=0.0 ("no effect"), the `_by` forms raise
    from hdfe_spark.operators.stats import ks_2sample, mann_whitney_u

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(6)]
        + [("b", float(i) + 0.5) for i in range(6)],
        "side string, v double",
    )
    for op in (mann_whitney_u, ks_2sample):
        with pytest.raises(ValueError, match="same value"):
            op(df, "side", "v", "a", "a")


def test_rank_kernel_job_counts(spark, count_jobs):
    """Each call runs ONE prefix sum (both cumulative columns share its
    sort, checkpoint and collect; 19 jobs each for auc_score and
    best_split with one prefix sum per column). auc_by pays the
    prefix sum's jobs at the call, where a group-partitioned window
    ran 6 jobs but put each group in one task."""
    from hdfe_spark.operators.stats import auc_by, auc_score, best_split

    df = spark.createDataFrame(
        [(f"g{i % 3}", float(i % 17), (i * 7) % 3 % 2) for i in range(120)],
        "g string, s double, y long",
    )
    assert count_jobs(lambda: auc_score(df, "y", "s").collect()) == 10
    assert count_jobs(lambda: auc_by(df, "g", "y", "s").collect()) == 8
    assert count_jobs(lambda: best_split(df, "s", "y").collect()) == 9


def test_rolling_beta_matches_numpy(spark):
    from hdfe_spark.operators.stats import rolling_beta

    rng = np.random.default_rng(12)
    x = np.round(rng.uniform(1, 5, 40), 6)
    y = np.round(2.0 * x + rng.normal(0, 0.2, 40), 6)
    rows = [(1, i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))]
    df = spark.createDataFrame(rows, "k long, t long, x double, y double")
    got = (
        rolling_beta(df, "k", "t", "x", "y", window=10)
        .orderBy("t")
        .toPandas()["beta"]
    )
    xu, yu = np.round(x * 1e6), np.round(y * 1e6)
    for t in [0, 5, 15, 39]:
        lo = max(0, t - 9)
        xs, ys = xu[lo:t + 1], yu[lo:t + 1]
        n = len(xs)
        den = n * (xs * xs).sum() - xs.sum() ** 2
        if den == 0:
            assert got[t] is None or np.isnan(got[t])
        else:
            want = (n * (xs * ys).sum() - xs.sum() * ys.sum()) / den
            assert got[t] == pytest.approx(want, rel=1e-9)
    # interior windows track the true slope
    assert abs(got[30] - 2.0) < 0.3


def test_rolling_beta_constant_x_is_null(spark):
    from hdfe_spark.operators.stats import rolling_beta

    rows = [(1, i, 3.0, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, t long, x double, y double")
    out = rolling_beta(df, "k", "t", "x", "y", window=3).collect()
    assert all(r["beta"] is None for r in out)


def test_kfold_ols_matches_hashlib_replica(spark):
    import hashlib

    from hdfe_spark.operators.stats import kfold_ols

    rng = np.random.default_rng(13)
    x = np.round(rng.uniform(0, 10, 600), 6)
    y = np.round(1.5 * x + 2.0 + rng.normal(0, 0.3, 600), 6)
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {r["fold"]: r for r in kfold_ols(df, ["id"], "x", "y").collect()}
    assert len(got) == 5

    th = ["3333", "6666", "9999", "cccc"]

    def fold_of(i):
        h = hashlib.md5(f"{i}".encode()).hexdigest()[:4]
        for f, t in enumerate(th):
            if h < t:
                return f
        return 4

    folds = np.array([fold_of(i) for i in range(600)])
    xu, yu = np.round(x * 1e6), np.round(y * 1e6)
    for f in range(5):
        tr = folds != f
        te = folds == f
        n = float(tr.sum())
        sx, sy = float(xu[tr].sum()), float(yu[tr].sum())
        sxx = float((xu[tr] * xu[tr]).sum())
        sxy = float((xu[tr] * yu[tr]).sum())
        b1 = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        b0 = (sy - b1 * sx) / n
        r = yu[te] - b0 - b1 * xu[te]
        ri = np.floor(r + 0.5)
        rmse = math.sqrt(float((ri * ri).sum()) / te.sum()) / 1e6
        assert got[f]["n_train"] == int(n)
        assert got[f]["n_test"] == int(te.sum())
        assert got[f]["b1"] == pytest.approx(b1, rel=1e-12)
        assert got[f]["rmse"] == pytest.approx(rmse, rel=1e-12)
        # out-of-fold slope near truth, rmse near noise sd
        assert abs(got[f]["b1"] - 1.5) < 0.05
        assert 0.2 < got[f]["rmse"] < 0.45


def test_kaplan_meier_textbook(spark):
    from hdfe_spark.operators.stats import kaplan_meier

    # classic small example: durations with deaths and censoring
    rows = [(1, True), (1, True), (3, True), (3, False),
            (5, True), (5, True), (8, False)]
    df = spark.createDataFrame(rows, "dur long, ev boolean")
    got = {r["t"]: r for r in kaplan_meier(df, "dur", "ev").collect()}
    assert got[1]["n_risk"] == 7 and got[1]["d"] == 2
    assert got[1]["s"] == pytest.approx(5 / 7)
    assert got[3]["n_risk"] == 5
    assert got[3]["s"] == pytest.approx(5 / 7 * 4 / 5)
    assert got[5]["n_risk"] == 3
    assert got[5]["s"] == pytest.approx(5 / 7 * 4 / 5 * 1 / 3)
    # censoring-only step: S unchanged
    assert got[8]["s"] == got[5]["s"] and got[8]["d"] == 0


def test_kaplan_meier_no_censoring_is_ecdf(spark):
    from hdfe_spark.operators.stats import kaplan_meier

    rows = [(t, True) for t in [1, 2, 2, 4]]
    df = spark.createDataFrame(rows, "dur long, ev boolean")
    got = {r["t"]: r["s"] for r in kaplan_meier(df, "dur", "ev").collect()}
    assert got[1] == pytest.approx(3 / 4)
    assert got[2] == pytest.approx(1 / 4)
    assert got[4] == pytest.approx(0.0, abs=1e-15)


def test_two_proportion_ztest_closed_form(spark):
    from hdfe_spark.operators.stats import two_proportion_ztest

    rows = (
        [("a", True)] * 120 + [("a", False)] * 380
        + [("b", True)] * 90 + [("b", False)] * 410
        + [("c", True)] * 5          # other group: excluded
        + [("a", None)]              # null success: excluded
    )
    df = spark.createDataFrame(rows, "g string, ok boolean")
    got = two_proportion_ztest(df, "g", "ok", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"]) == (500, 500)
    assert (got["s_a"], got["s_b"]) == (120, 90)
    pa, pb = 120 / 500, 90 / 500
    pool = 210 / 1000
    z = (pa - pb) / math.sqrt(pool * (1 - pool) * (1 / 500 + 1 / 500))
    assert got["z"] == pytest.approx(z, rel=1e-12)


def test_two_proportion_ztest_degenerate_raises(spark):
    from hdfe_spark.operators.stats import two_proportion_ztest

    df = spark.createDataFrame(
        [("a", True), ("b", True)], "g string, ok boolean"
    )
    with pytest.raises(ValueError, match="zero"):
        two_proportion_ztest(df, "g", "ok", "a", "b")
