"""Regression tests for ``estimate`` — FIXTURES.md F5: synthetic data
with known coefficients; plans A/B/C cross-checked against each other
and against a local numpy recomputation of the reference algorithm
(``hdfe/hdfe.py:49-181``). Tolerance-compared, not hash-compared.
"""

import numpy as np
import pandas as pd
import pytest

from hdfe_spark.operators.estimate import estimate

N, SEED = 2000, 7


@pytest.fixture(scope="module")
def reg_pdf():
    rng = np.random.RandomState(SEED)
    fe1 = rng.randint(0, 50, N)
    fe2 = rng.randint(0, 5, N)
    cluster = rng.randint(0, 30, N)
    x1, x2 = rng.randn(N), rng.randn(N)
    alpha = rng.randn(50) * 0.5
    gamma = rng.randn(5) * 0.5
    eps = rng.randn(N) * 0.1
    y = 2.0 * x1 - 1.0 * x2 + alpha[fe1] + gamma[fe2] + eps
    return pd.DataFrame(
        {"fe1": fe1, "fe2": fe2, "cluster_id": cluster,
         "x1": x1, "x2": x2, "y": y}
    )


@pytest.fixture(scope="module")
def reg_df(spark, reg_pdf):
    return spark.createDataFrame(reg_pdf)


def _local_within(pdf, y_col="y", x_cols=("x1", "x2"), fe="fe1"):
    """Local numpy recomputation of the reference within path
    (demean x, lstsq vs raw y, FE = group means of residual)."""
    X = pdf[list(x_cols)].values
    y = pdf[y_col].values[:, None]
    means = pdf.groupby(fe)[list(x_cols)].transform("mean").values
    Xd = X - means
    b = np.linalg.lstsq(Xd, y, rcond=None)[0]
    err = y - X @ b
    fe_eff = pd.DataFrame({"fe": pdf[fe].values, "e": err[:, 0]}).groupby("fe")["e"].mean()
    return b[:, 0], fe_eff


def test_plan_pooled_matches_numpy(spark):
    rng = np.random.RandomState(11)
    X = rng.randn(500, 2)
    y = X @ np.array([2.0, -1.0]) + rng.randn(500) * 0.1
    pdf = pd.DataFrame({"x1": X[:, 0], "x2": X[:, 1], "y": y})
    df = spark.createDataFrame(pdf)
    res = estimate(df, "y", ["x1", "x2"])
    assert res.plan == "pooled"
    want = np.linalg.lstsq(X, y[:, None], rcond=None)[0]
    np.testing.assert_allclose(res.b, want, rtol=1e-8)


def test_plan_within_slopes_and_fe(reg_df, reg_pdf):
    res = estimate(reg_df, "y", ["x1", "x2"], categorical_controls=["fe1"])
    assert res.plan == "within"
    b_want, fe_want = _local_within(reg_pdf)
    np.testing.assert_allclose(res.slopes[:, 0], b_want, rtol=1e-8)
    # FE block is the first 50 coefficients, levels sorted ascending.
    np.testing.assert_allclose(res.b[:50, 0], fe_want.sort_index().values, rtol=1e-8)
    # Sanity: ground truth recovered
    np.testing.assert_allclose(res.slopes[:, 0], [2.0, -1.0], atol=0.05)


def test_plan_within_two_fe_dummies(reg_df, reg_pdf):
    res = estimate(
        reg_df, "y", ["x1", "x2"], categorical_controls=["fe1", "fe2"],
    )
    assert res.plan == "within"
    # x gets 4 drop-last dummies for fe2 appended
    assert res.x_cols[:2] == ["x1", "x2"]
    assert len(res.x_cols) == 2 + 4
    np.testing.assert_allclose(res.slopes[:2, 0], [2.0, -1.0], atol=0.02)


def test_plan_alternating_matches_within(reg_df):
    res_b = estimate(
        reg_df, "y", ["x1", "x2"], categorical_controls=["fe1", "fe2"],
    )
    res_c = estimate(
        reg_df, "y", ["x1", "x2"], categorical_controls=["fe1", "fe2"],
        within_if_fe=False,
    )
    assert res_c.plan == "alternating"
    np.testing.assert_allclose(
        res_c.b[:, 0], res_b.slopes[:2, 0], rtol=1e-6
    )


def test_hc1_robust_se_matches_numpy(spark):
    """White/HC1 sandwich on the pooled plan equals the textbook numpy
    computation; and the within/alternating forms agree with each
    other on the demeaned model."""
    rng = np.random.RandomState(23)
    X = rng.randn(800, 2)
    # heteroskedastic noise so HC1 ≠ homoskedastic
    y = X @ np.array([1.5, -0.5]) + rng.randn(800) * (0.1 + np.abs(X[:, 0]))
    pdf = pd.DataFrame({"x1": X[:, 0], "x2": X[:, 1], "y": y})
    df = spark.createDataFrame(pdf)

    res = estimate(df, "y", ["x1", "x2"], estimate_variance=True, robust=True)
    b = np.linalg.lstsq(X, y[:, None], rcond=None)[0]
    e = y[:, None] - X @ b
    G_inv = np.linalg.inv(X.T @ X)
    meat = X.T @ (X * (e**2))
    V_want = G_inv @ meat @ G_inv * (800 / (800 - 2))
    np.testing.assert_allclose(res.V[0], V_want, rtol=1e-8)
    # differs from homoskedastic under heteroskedasticity
    res_h = estimate(df, "y", ["x1", "x2"], estimate_variance=True)
    assert not np.allclose(np.diag(res.V[0]), np.diag(res_h.V[0]), rtol=0.05)

    with pytest.raises(ValueError, match="mutually exclusive"):
        estimate(df, "y", ["x1"], estimate_variance=True, robust=True, cluster="x2")


def test_hc1_robust_se_fe_plans_agree(reg_df):
    """HC1 slope variances from Plan B (within + dummies) and Plan C
    (alternating) describe the same model → near-identical SEs."""
    kw = dict(
        categorical_controls=["fe1", "fe2"], estimate_variance=True, robust=True,
    )
    res_b = estimate(reg_df, "y", ["x1", "x2"], **kw)
    res_c = estimate(reg_df, "y", ["x1", "x2"], within_if_fe=False, **kw)
    np.testing.assert_allclose(
        np.sqrt(np.diag(res_c.V[0])),
        np.sqrt(np.diag(res_b.V[0]))[:2],
        rtol=1e-4,
    )


def test_plan_alternating_null_fe_levels(spark, reg_pdf, monkeypatch):
    """Null FE levels are real levels (the groupBy/window semantic):
    slopes with nulls in an FE column must equal slopes with the nulls
    recoded as an explicit sentinel level — on the driver tier AND the
    distributed tiers (nulls previously broke pd.factorize's bincounts
    / silently skipped the broadcast-demean join). Fixed effects of
    the null level must also be recovered."""
    import hdfe_spark.operators.estimate as est_mod

    pdf = reg_pdf.copy()
    pdf["fe2"] = pdf["fe2"].astype(object)
    null_mask = pdf.index % 7 == 0
    pdf.loc[null_mask, "fe2"] = None
    with_null = spark.createDataFrame(pdf)
    sentinel = spark.createDataFrame(pdf.assign(fe2=pdf["fe2"].fillna(99)))

    kw = dict(
        categorical_controls=["fe1", "fe2"], within_if_fe=False,
        check_rank=False, estimate_variance=False,
    )
    b_sentinel = estimate(sentinel, "y", ["x1", "x2"], **kw).b[:, 0]

    b_null = estimate(with_null, "y", ["x1", "x2"], **kw).b[:, 0]
    np.testing.assert_allclose(b_null, b_sentinel, rtol=1e-6)

    monkeypatch.setattr(est_mod, "_AP_DRIVER_LEVELS_MAX", 0)
    b_null_dist = estimate(with_null, "y", ["x1", "x2"], **kw).b[:, 0]
    np.testing.assert_allclose(b_null_dist, b_sentinel, rtol=1e-6)
    monkeypatch.setattr(est_mod, "_AP_DRIVER_LEVELS_MAX", 20_000_000)

    # FE recovery: the null level appears in the fe2 table with the
    # same effect the sentinel run assigns level 99.
    res_n = estimate(with_null, "y", ["x1", "x2"], **kw)
    res_s = estimate(sentinel, "y", ["x1", "x2"], **kw)
    fe2_n = res_n.fixed_effects["fe2"].toPandas()
    fe2_s = res_s.fixed_effects["fe2"].toPandas()
    null_rows = fe2_n[fe2_n["fe2"].isna()]
    assert len(null_rows) == 1
    want = fe2_s[fe2_s["fe2"] == 99]["fe_y"].iloc[0]
    np.testing.assert_allclose(null_rows["fe_y"].iloc[0], want, rtol=1e-6)


def test_plan_alternating_distributed_tiers_match_driver(reg_df, monkeypatch):
    """The three Plan C tiers (driver level-space solve, distributed
    weighted cell sweeps, full-data sweeps) are alternative physical
    strategies for the same projection — force each via the gates and
    check identical slopes."""
    import hdfe_spark.operators.estimate as est_mod

    kw = dict(
        categorical_controls=["fe1", "fe2"], within_if_fe=False,
        check_rank=False, estimate_variance=False,
    )
    b_driver = estimate(reg_df, "y", ["x1", "x2"], **kw).b[:, 0]

    # Gate to 0 → distributed branch; reg_df has repeated (fe1, fe2)
    # cells (50×5 combos over 2000 rows) → weighted cell sweeps.
    monkeypatch.setattr(est_mod, "_AP_DRIVER_LEVELS_MAX", 0)
    b_cells = estimate(reg_df, "y", ["x1", "x2"], **kw).b[:, 0]
    np.testing.assert_allclose(b_cells, b_driver, rtol=1e-6)

    # A near-row-unique FE combination defeats cell compression
    # (n_cells > n_rows/2) → full-data sweeps.
    import pyspark.sql.functions as SF

    wide = reg_df.withColumn("row_fe", SF.monotonically_increasing_id() % 900)
    b_full_driver = None
    monkeypatch.setattr(est_mod, "_AP_DRIVER_LEVELS_MAX", 20_000_000)
    b_full_driver = estimate(
        wide, "y", ["x1", "x2"],
        categorical_controls=["fe1", "row_fe"], within_if_fe=False,
        check_rank=False, estimate_variance=False,
    ).b[:, 0]
    monkeypatch.setattr(est_mod, "_AP_DRIVER_LEVELS_MAX", 0)
    b_full = estimate(
        wide, "y", ["x1", "x2"],
        categorical_controls=["fe1", "row_fe"], within_if_fe=False,
        check_rank=False, estimate_variance=False,
    ).b[:, 0]
    # Iterative sweeps (ap_tol-bounded) vs the exact driver solve on
    # a 900-level FE: agreement is tolerance-limited, not exact.
    np.testing.assert_allclose(b_full, b_full_driver, rtol=2e-3)


def test_residuals(reg_df, reg_pdf):
    res = estimate(
        reg_df, "y", ["x1", "x2"], categorical_controls=["fe1"],
        get_residual=True,
    )
    got = res.residuals.select("fe1", "x1", "resid_y").toPandas()
    # Residuals (after FE netting) average ~0 within every FE group
    grp = got.groupby("fe1")["resid_y"].mean()
    np.testing.assert_allclose(grp.values, 0.0, atol=1e-8)
    # and are orthogonal to demeaned x by construction
    b_want, fe_want = _local_within(reg_pdf)
    X = reg_pdf[["x1", "x2"]].values
    y = reg_pdf["y"].values
    err = y - X @ b_want - fe_want.loc[reg_pdf["fe1"]].values
    np.testing.assert_allclose(np.std(got["resid_y"]), np.std(err), rtol=1e-6)


def test_homoskedastic_variance_pooled(spark):
    rng = np.random.RandomState(13)
    X = rng.randn(400, 2)
    y = X @ np.array([1.0, 0.5]) + rng.randn(400) * 0.2
    df = spark.createDataFrame(pd.DataFrame({"x1": X[:, 0], "x2": X[:, 1], "y": y}))
    res = estimate(df, "y", ["x1", "x2"], estimate_variance=True)
    b = np.linalg.lstsq(X, y[:, None], rcond=None)[0]
    e = y[:, None] - X @ b
    s2 = float(e.T @ e) / (400 - 2)
    V_want = s2 * np.linalg.inv(X.T @ X)
    np.testing.assert_allclose(res.V[0], V_want, rtol=1e-6)


def test_cluster_robust_variance_pooled(spark):
    rng = np.random.RandomState(17)
    X = rng.randn(400, 2)
    cl = rng.randint(0, 25, 400)
    y = X @ np.array([1.0, 0.5]) + rng.randn(400) * 0.2
    df = spark.createDataFrame(
        pd.DataFrame({"x1": X[:, 0], "x2": X[:, 1], "y": y, "cl": cl})
    )
    res = estimate(df, "y", ["x1", "x2"], estimate_variance=True, cluster="cl")
    b = np.linalg.lstsq(X, y[:, None], rcond=None)[0]
    e = (y[:, None] - X @ b)[:, 0]
    Ginv = np.linalg.inv(X.T @ X)
    meat = np.zeros((2, 2))
    for g in np.unique(cl):
        u = X[cl == g].T @ e[cl == g]
        meat += np.outer(u, u)
    V_want = Ginv @ meat @ Ginv
    np.testing.assert_allclose(res.V[0], V_want, rtol=1e-6)


def test_within_full_design_variance(reg_df, reg_pdf):
    """Full [D1|x] homoskedastic variance via Schur blocks matches a
    local dense computation (reference hdfe/hdfe.py:153-158,176-179)."""
    res = estimate(
        reg_df, "y", ["x1", "x2"], categorical_controls=["fe1"],
        estimate_variance=True,
    )
    assert res.v_coef_names == res.coef_names  # full design (50 levels ≤ 2000)
    # Local dense oracle
    pdf = reg_pdf
    D = pd.get_dummies(pdf["fe1"]).values.astype(float)
    X_full = np.hstack([D, pdf[["x1", "x2"]].values])
    b_want, fe_want = _local_within(pdf)
    e = (
        pdf["y"].values
        - pdf[["x1", "x2"]].values @ b_want
        - fe_want.loc[pdf["fe1"]].values
    )
    s2 = float(e @ e) / (len(pdf) - X_full.shape[1])
    V_want = s2 * np.linalg.inv(X_full.T @ X_full)
    np.testing.assert_allclose(res.V[0], V_want, rtol=1e-5, atol=1e-10)


def test_slopes_only_never_collects_fe_block(reg_df):
    """Slopes-only use must not pull a levels-sized FE block onto the
    driver (a 10⁸-level FE would OOM it). ``.slopes`` and
    ``.fixed_effects`` stay lazy; only ``.b``/``.coef_names``
    materialize the block."""
    res = estimate(reg_df, "y", ["x1", "x2"], categorical_controls=["fe1"])
    _ = res.slopes
    _ = res.fixed_effects["fe1"]  # still a DataFrame, not collected
    assert res._b is None  # FE block untouched
    # Accessing .b materializes it exactly once, FE rows first.
    assert res.b.shape[0] == 50 + 2
    assert res.coef_names[0].startswith("fe1=")


def test_multi_outcome(reg_df, reg_pdf):
    """Multi-outcome y solved in one pass (reference supports n×m y)."""
    res = estimate(reg_df, ["y", "x1"], ["x2"], categorical_controls=["fe1"])
    assert res.b.shape[1] == 2
    b_y, _ = _local_within(reg_pdf, y_col="y", x_cols=("x2",))
    np.testing.assert_allclose(res.slopes[:, 0], b_y, rtol=1e-8)


# ----------------------- closed-form RSS / centering cancellation guards


@pytest.fixture(scope="module")
def offset_pdf():
    """``y = 1e8 + 0.5·x + e``: the un-centered level dominates every
    raw second moment, so closed-form RSS and centering cancel."""
    rng = np.random.RandomState(23)
    n = 20_000
    z = rng.randn(n)
    x = z + rng.randn(n)
    y = 1e8 + 0.5 * x + rng.randn(n)
    return pd.DataFrame({"one": 1.0, "w": 1.0, "x": x, "z": z, "y": y})


@pytest.fixture(scope="module")
def offset_df(spark, offset_pdf):
    return spark.createDataFrame(offset_pdf)


def test_wls_variance_survives_large_offset(offset_df, offset_pdf):
    from hdfe_spark.operators.estimate import wls

    res = wls(offset_df, "y", ["one", "x"], weights="w", estimate_variance=True)
    X = offset_pdf[["one", "x"]].to_numpy()
    y = offset_pdf["y"].to_numpy()
    b = np.linalg.solve(X.T @ X, X.T @ y)
    e = y - X @ b
    V_want = np.linalg.inv(X.T @ X) * float(e @ e) / (len(y) - 2)
    np.testing.assert_allclose(res.b[:, 0], b, rtol=1e-9)
    np.testing.assert_allclose(res.V[0], V_want, rtol=1e-6)


def test_iv_2sls_variance_survives_large_offset(offset_df, offset_pdf):
    from hdfe_spark.operators.estimate import iv_2sls

    res = iv_2sls(offset_df, "y", "x", "z", x_exog="one", estimate_variance=True)
    X = offset_pdf[["x", "one"]].to_numpy()
    Z = offset_pdf[["z", "one"]].to_numpy()
    y = offset_pdf["y"].to_numpy()
    PX = Z @ np.linalg.solve(Z.T @ Z, Z.T @ X)
    b = np.linalg.solve(PX.T @ X, PX.T @ y)
    e = y - X @ b
    V_want = np.linalg.inv(PX.T @ X) * float(e @ e) / (len(y) - 2)
    # the raw-moment solve itself loses a few digits to the offset
    np.testing.assert_allclose(res.b[:, 0], b, rtol=1e-7)
    np.testing.assert_allclose(res.V[0], V_want, rtol=1e-6)


def test_fit_stats_pooled_survives_large_offset(offset_df, offset_pdf):
    from hdfe_spark.operators.estimate import fit_stats

    got = fit_stats(offset_df, "y", ["x"])
    xc = offset_pdf["x"].to_numpy() - offset_pdf["x"].mean()
    yc = offset_pdf["y"].to_numpy() - offset_pdf["y"].mean()
    b = float(xc @ yc) / float(xc @ xc)
    tss = float(yc @ yc)
    rss = float((yc - b * xc) @ (yc - b * xc))
    assert got["n"] == len(yc)
    np.testing.assert_allclose(got["tss"], tss, rtol=1e-6)
    np.testing.assert_allclose(got["rss"], rss, rtol=1e-6)
    np.testing.assert_allclose(got["r2"], 1.0 - rss / tss, rtol=1e-6)


# ------------------------------------------------ the one moment kernel


@pytest.fixture(scope="module")
def moment_frame(spark):
    """60 rows: a NULL in ``a``, a NaN in ``b``, NULL FE levels in
    ``g``, an integer column ``i`` and a positive weight ``w``."""
    rng = np.random.RandomState(5)
    n = 60
    g = rng.randint(0, 6, n)
    a, b = rng.randn(n), rng.randn(n) * 3.0 + 1.0
    i, w = rng.randint(-5, 9, n), rng.uniform(0.5, 2.0, n)
    rows = [
        (
            None if r in (3, 17, 40) else int(g[r]),
            None if r == 7 else float(a[r]),
            float("nan") if r == 11 else float(b[r]),
            int(i[r]),
            float(w[r]),
        )
        for r in range(n)
    ]
    df = spark.createDataFrame(rows, "g long, a double, b double, i int, w double")
    return df, pd.DataFrame(rows, columns=["g", "a", "b", "i", "w"])


def test_moment_kernel_matches_numpy(moment_frame, count_jobs):
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from hdfe_spark.operators.collinearity import (
        _centered_ok,
        _fixed_point_moments,
        _moments,
    )
    from hdfe_spark.operators.estimate import _and_complete
    from hdfe_spark.operators.stats import pca, pca2, ridge2
    from hdfe_spark.operators.validate import mahalanobis_outliers

    df, pdf = moment_frame
    cols = ["a", "b", "i"]

    # raw: NULL products skipped pair by pair, n counts every row,
    # NaN poisons every sum it touches
    raw = _moments(df, ["a", "i"])
    a_ok = pdf["a"].notna().to_numpy()
    av, iv = pdf["a"].to_numpy()[a_ok], pdf["i"].to_numpy()
    assert raw.n == 60 and raw.groups == 1
    np.testing.assert_allclose(raw.s, [av.sum(), iv.sum()], rtol=1e-12)
    np.testing.assert_allclose(
        raw.M,
        [[av @ av, av @ iv[a_ok]], [av @ iv[a_ok], iv @ iv]],
        rtol=1e-12,
    )
    assert np.isnan(_moments(df, cols).M[1]).all()
    # integers are summed as double: a long Σt² would overflow
    big = df.withColumn("t", F.col("i").cast("long") + 4_000_000_000)
    tv = iv.astype(float) + 4e9
    np.testing.assert_allclose(_moments(big, ["t"]).M, [[tv @ tv]], rtol=1e-12)

    # masked: one listwise mask gates every sum and n
    valid = _and_complete(F.lit(True), df, cols)
    keep = pdf[cols].notna().all(axis=1).to_numpy()
    X, wv = pdf.loc[keep, cols].to_numpy(float), pdf.loc[keep, "w"].to_numpy()
    masked = _moments(df, cols, valid=valid)
    assert masked.n == keep.sum() == 58
    np.testing.assert_allclose(masked.s, X.sum(axis=0), rtol=1e-12)
    np.testing.assert_allclose(masked.M, X.T @ X, rtol=1e-12)
    np.testing.assert_allclose(masked.ss, np.diag(X.T @ X), rtol=1e-12)

    # weighted: Σ w·c and Σ w·cᵢcⱼ over the same mask
    weighted = _moments(df, cols, valid=valid, weight="w")
    assert weighted.n == 58
    np.testing.assert_allclose(weighted.s, wv @ X, rtol=1e-12)
    np.testing.assert_allclose(weighted.M, X.T @ (wv[:, None] * X), rtol=1e-12)

    # within `by`: central moments per FE level, the NULL level its own
    # group; the flags see the NULL and the NaN of the unfiltered frame
    assert _moments(df, cols, by="g", flags=True).bad
    within = _moments(df.filter(valid), cols, by="g", flags=True)
    sub = pdf.loc[keep].fillna({"g": -1})
    Xd = X - sub.groupby("g")[cols].transform("mean").to_numpy(float)
    assert not within.bad
    assert within.n == 58 and within.groups == sub["g"].nunique()
    np.testing.assert_allclose(within.M, Xd.T @ Xd, rtol=1e-10)
    np.testing.assert_allclose(within.ss, np.diag(X.T @ X), rtol=1e-12)
    loss = _centered_ok(within.M, within.ss)
    assert loss is not None and loss >= 1.0

    # the digits guard trips on a dominant un-centered level
    shifted = df.filter(valid).withColumn("b", F.col("b") + 1e9)
    far = _moments(shifted, cols, by="g")
    assert _centered_ok(far.M, far.ss) is None

    # fixed point: DECIMAL(38,0) sums of round(c·scale) (HALF_UP),
    # exact against Python-int arithmetic — listwise (the complete
    # rows) and pairwise (n counts every row)
    fcols, scale = ["a", "i", "w"], 1e3

    def fixed(v):
        if pd.isna(v):
            return None
        return int(Decimal(float(v) * scale).to_integral_value(ROUND_HALF_UP))

    U = [[fixed(r[c]) for c in fcols] for _, r in pdf.iterrows()]
    for complete in (True, False):
        rows = [u for u in U if not complete or None not in u]
        fp = _fixed_point_moments(df, fcols, scale, "kernel", complete=complete)
        assert fp.n == len(rows) == (59 if complete else 60)
        for i in range(3):
            S = sum(u[i] for u in rows if u[i] is not None)
            assert int(fp.row[f"__s_{i}"]) == S and fp.s[i] == float(S)
            for j in range(i, 3):
                P = sum(u[i] * u[j] for u in rows if None not in (u[i], u[j]))
                assert int(fp.row[f"__p_{i}_{j}"]) == P
                assert fp.M[i, j] == fp.M[j, i] == float(P)

    # ... in the jobs of one aggregation, the overflow guard included;
    # an overflow of DECIMAL(38,0) (a product here) is a named
    # ValueError at every fixed-point site
    spark = df.sparkSession
    big = spark.range(50).select(
        (F.col("id").cast("double") * 1e16).alias("a"),
        (F.col("id") % 7).cast("double").alias("b"),
    )
    one_agg = count_jobs(lambda: big.agg(F.sum("b")).collect())
    assert count_jobs(lambda: _fixed_point_moments(big, ["b"], 1e6, "kernel")) == one_agg
    for op in (
        lambda: _fixed_point_moments(big, ["a", "b"], 1e6, "kernel"),
        lambda: pca(big, ["a", "b"]),
        lambda: pca2(big, "a", "b"),
        lambda: ridge2(big, ["a", "b"], "b", 1.0),
        lambda: mahalanobis_outliers(big, ["a", "b"]),
    ):
        with pytest.raises(ValueError, match="overflow DECIMAL.*lower `scale`"):
            op()


def test_moment_sites_job_counts(reg_df, count_jobs):
    """The bench steps that reach the moment kernel keep their Spark
    job counts: the Gram, the within plan with residuals, and Plan C's
    driver tier with the driver-assembled Gram."""
    from hdfe_spark.operators.collinearity import gram_matrix

    assert count_jobs(lambda: gram_matrix(reg_df, ["x1", "x2"], ["y"])) == 2
    assert count_jobs(
        lambda: estimate(
            reg_df, "y", ["x1", "x2"], categorical_controls=["fe1"],
            get_residual=True,
        )
    ) == 3
    assert count_jobs(
        lambda: estimate(
            reg_df, "y", ["x1", "x2"], categorical_controls=["fe1", "fe2"],
            within_if_fe=False,
        )
    ) == 5
