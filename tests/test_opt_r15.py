"""Round-15 optimization guards: Plan-B moment fast path, the
one-way cluster one-pass sandwich, and the keyed scan-spread for Plan
C's cell pass.

The optimizations must be *invisible* in results: every test here
pins the optimized output against an independent numpy reference
(``ols_reference``) or against the exact path that a data gate (NULL
input, ``get_residual=True``, an already-exchanged input) selects on
the same data.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import ols_reference as ref
from hdfe_spark.operators import estimate as E

_SCHEMA = "id long, g long, h long, x1 double, x2 double, y double"


@pytest.fixture()
def panel_pdf():
    rows = []
    rng = np.random.RandomState(7)
    for i in range(400):
        g = i % 13
        h = i % 5
        x1 = float(rng.randint(0, 100)) / 7.0
        x2 = float(rng.randint(0, 50)) / 3.0
        y = 2.0 * x1 - 1.5 * x2 + g * 0.5 + h * 2.0 + float(rng.randint(0, 10)) / 11.0
        rows.append((i, g, h, x1, x2, y))
    return pd.DataFrame(rows, columns=["id", "g", "h", "x1", "x2", "y"])


@pytest.fixture()
def panel(spark, panel_pdf):
    return spark.createDataFrame(
        list(panel_pdf.itertuples(index=False, name=None)), _SCHEMA
    )


def test_within_fast_parity_with_window_path(panel, panel_pdf):
    """Slopes from the moment fast path == numpy within-OLS slopes."""
    fast = E.estimate(panel, "y", ["x1", "x2"], categorical_controls=["g"])
    b, _, _ = ref.within_fit(panel_pdf, "g", ["x1", "x2"], "y")
    assert np.allclose(fast.slopes[:, 0], b, rtol=1e-9, atol=1e-12)
    assert fast.n == len(panel_pdf)


def test_within_fast_triggers_on_clean_data(panel):
    out = E._within_moments_gram(panel, "g", ["x1", "x2"], ["y"])
    assert out is not None
    G, Xty, n, Gf, n_levels, loss = out
    assert G.shape == (2, 2) and Xty.shape == (2, 1) and n == 400
    assert Gf.shape == (3, 3) and n_levels == 13 and loss >= 1.0


def test_within_fast_declines_nulls_and_nans(panel, spark):
    """NULL or NaN anywhere in (x, y) → fast path declines (the window
    path's per-column null semantics are kept by falling back)."""
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("x1"))
    )
    assert E._within_moments_gram(with_null, "g", ["x1", "x2"], ["y"]) is None
    with_nan = panel.withColumn(
        "y", F.when(F.col("id") == 5, F.lit(float("nan"))).otherwise(F.col("y"))
    )
    assert E._within_moments_gram(with_nan, "g", ["x1", "x2"], ["y"]) is None


def test_within_fast_null_input_same_answer_as_before(
    panel, panel_pdf, monkeypatch
):
    """End-to-end on null-containing input: estimate() must produce
    exactly the window-path answer (it falls back internally). The
    window path is also reached through the width gate; its NULL
    semantics (per-column group means, pairwise-complete Gram sums,
    n = all rows) are replicated in numpy."""
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") % 37 == 0, F.lit(None)).otherwise(F.col("x1"))
    )
    a = E.estimate(with_null, "y", ["x1", "x2"], categorical_controls=["g"])
    monkeypatch.setattr(E, "_WITHIN_FAST_MAX_COLS", 0)
    b = E.estimate(with_null, "y", ["x1", "x2"], categorical_controls=["g"])
    assert np.allclose(a.slopes, b.slopes, rtol=0, atol=0)  # identical path
    assert a.n == b.n == len(panel_pdf)

    pdf = panel_pdf.copy()
    pdf.loc[pdf["id"] % 37 == 0, "x1"] = np.nan
    P = ref.demeaned(pdf, "g", ["x1", "x2"]).to_numpy()
    y = pdf["y"].to_numpy()
    G = np.array([[np.nansum(P[:, i] * P[:, j]) for j in range(2)] for i in range(2)])
    Xty = np.array([np.nansum(P[:, i] * y) for i in range(2)])
    assert np.allclose(a.slopes[:, 0], np.linalg.solve(G, Xty), rtol=1e-9)


def test_within_fast_multi_fe_dummy_parity(panel, panel_pdf):
    """cc=[g, h] with within_if_fe=True appends drop-last dummies for
    h; the moment fast path must reproduce the numpy within-OLS of y on
    (x1, x2, h dummies) with g absorbed."""
    fast = E.estimate(panel, "y", ["x1", "x2"], categorical_controls=["g", "h"])
    pdf = pd.concat([panel_pdf, ref.drop_last_dummies(panel_pdf, "h")], axis=1)
    x_all = ["x1", "x2"] + [c for c in pdf.columns if c.startswith("h_is_")]
    b, _, _ = ref.within_fit(pdf, "g", x_all, "y")
    assert fast.x_cols == x_all
    assert np.allclose(fast.slopes[:, 0], b, rtol=1e-9, atol=1e-12)


def test_within_fast_cancellation_guard_falls_back():
    """A dominant un-centered level (y ≈ 1e9 + signal) kills the
    moment identity's precision — the guard must decline."""
    import pandas as pd

    from hdfe_spark.session import get_spark

    spark = get_spark(app_name="hdfe_spark_tests")
    pdf = pd.DataFrame(
        {
            "g": [i % 3 for i in range(90)],
            "x": [1e9 + (i % 7) * 1e-3 for i in range(90)],
            "y": [float(i % 5) for i in range(90)],
        }
    )
    df = spark.createDataFrame(pdf)
    assert E._within_moments_gram(df, "g", ["x"], ["y"]) is None


def test_spread_by_keys_noop_on_exchanged_plan(spark, sf_dir):
    """Anything already shuffled must come back untouched (probing
    .rdd there would execute upstream stages under AQE)."""
    from hdfe_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    agged = li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("s"))
    assert E._spread_by_keys(agged, ["l_suppkey"]) is agged


def test_spread_by_keys_spreads_narrow_scan(spark, sf_dir):
    from hdfe_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey", "l_partkey", "l_quantity"
    )
    out = E._spread_by_keys(li, ["l_suppkey", "l_partkey"])
    target = spark.sparkContext.defaultParallelism
    if li.rdd.getNumPartitions() < max(2, target // 2):
        assert out.rdd.getNumPartitions() == target
    # grouped result identical either way
    a = (
        out.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy("l_suppkey", "l_partkey")
        .limit(20)
        .collect()
    )
    b = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("s"))
        .orderBy("l_suppkey", "l_partkey")
        .limit(20)
        .collect()
    )
    assert a == b


def test_residual_schema_stable_across_paths(panel, monkeypatch):
    """res.residuals must have the SAME columns whether the moment
    fast path or the window fallback computed the slopes (review r15:
    a NULL in the data must not change the public schema)."""
    fast = E.estimate(
        panel, "y", ["x1", "x2"], categorical_controls=["g"],
        get_residual=True,
    )
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("x1"))
    )
    fallback = E.estimate(
        with_null, "y", ["x1", "x2"], categorical_controls=["g"],
        get_residual=True,
    )
    assert fast.residuals.columns == fallback.residuals.columns
    assert not any(c.startswith("__dm_") for c in fast.residuals.columns)


def test_token_hashes_outlier_token_chunked():
    """A mega-token must not force an n × maxlen padded matrix
    (review r15) — and stays bit-identical to the per-byte fold."""
    import numpy as np

    from hdfe_spark.functions import hashing as H

    toks = ["abc", "", "Z" * 500_000, "defg", "日本語"]
    got = H.token_hashes_np(toks)
    ref = np.empty(len(toks), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, t in enumerate(toks):
            h = np.uint64(14695981039346656037)
            for b in t.encode("utf-8"):
                h = (h ^ np.uint64(b)) * H._BASE
            ref[i] = h
    assert np.array_equal(got, ref)


def test_within_fast_ill_conditioned_falls_back(spark):
    """Near-collinear regressors with large uncentered means: the
    cond·loss guard must decline (the window path is the accurate
    one there) — review r15."""
    import pandas as pd

    rng = np.random.RandomState(3)
    n = 3000
    base = rng.standard_normal(n)
    pdf = pd.DataFrame(
        {
            "g": np.arange(n) % 7,
            "x1": 1e6 + base,
            "x2": 1e6 + base + 1e-4 * rng.standard_normal(n),
            "y": rng.standard_normal(n),
        }
    )
    df = spark.createDataFrame(pdf)
    assert E._within_moments_gram(df, "g", ["x1", "x2"], ["y"]) is None


def test_cluster_onepass_parity(panel, panel_pdf):
    """One-pass cluster sandwich == numpy OLS + one-way cluster
    sandwich (b and V)."""
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, cluster="g"
    )
    X = panel_pdf[["x1", "x2"]].to_numpy()
    b, e = ref.ols(X, panel_pdf["y"].to_numpy())
    assert np.allclose(fast.b[:, 0], b, rtol=1e-9)
    assert np.allclose(fast.V[0], ref.cluster_V(X, e, panel_pdf, ["g"]), rtol=1e-7)
    assert fast.n == len(panel_pdf)
    assert fast.v_coef_names == ["x1", "x2"]


def test_cluster_onepass_declines_nulls(panel, count_jobs):
    """NULL input declines the one-pass sandwich; the job counts pin
    which path each call took (one pass on clean data, the exact
    Gram + residual-scan path after the decline)."""
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("x1"))
    )
    assert (
        E._pooled_sandwich_onepass(with_null, "y", ["x1", "x2"], ["g"], False, 1e-9)
        is None
    )
    for frame, jobs in ((panel, 3), (with_null, 8)):
        assert count_jobs(
            lambda: E.estimate(
                frame, "y", ["x1", "x2"], estimate_variance=True, cluster="g"
            )
        ) == jobs


def test_cluster_onepass_null_input_same_answer(panel):
    """Null-containing input → internal fallback → identical output to
    the two-pass scores path (which ``get_residual=True`` selects)."""
    with_null = panel.withColumn(
        "x2", F.when(F.col("id") % 41 == 0, F.lit(None)).otherwise(F.col("x2"))
    )
    a = E.estimate(
        with_null, "y", ["x1", "x2"], estimate_variance=True, cluster="g"
    )
    b = E.estimate(
        with_null, "y", ["x1", "x2"], estimate_variance=True, cluster="g",
        get_residual=True,
    )
    assert np.allclose(a.b, b.b, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_plan_c_parity_after_spread(spark, sf_dir):
    """ols_2fe-shaped Plan C: a bare scan (spread applies) and an
    already-exchanged input (spread is a no-op) → same slopes."""
    from hdfe_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    exchanged = li.repartition(3)
    assert E._spread_by_keys(exchanged, ["l_suppkey", "l_partkey"]) is exchanged
    a, b = (
        E.estimate(
            frame, "l_extendedprice", ["l_quantity", "l_discount"],
            categorical_controls=["l_suppkey", "l_partkey"], within_if_fe=False,
        )
        for frame in (li, exchanged)
    )
    assert np.allclose(a.slopes, b.slopes, rtol=1e-9, atol=1e-12)
