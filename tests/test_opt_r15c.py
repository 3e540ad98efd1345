"""Round-15 optimization guards: two-way (CGM) cluster-robust
one-pass sandwich (`_pooled_sandwich_onepass` with two keys).

Same contract as the one-way guards in test_opt_r15.py: the
optimization must be invisible in results — every test pins the
new path's output against numpy OLS + the CGM sandwich
(``ols_reference``), or against the exact four-pass path that
``get_residual=True`` selects, on the same data.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import ols_reference as ref
from hdfe_spark.operators import estimate as E


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
        list(panel_pdf.itertuples(index=False, name=None)),
        "id long, g long, h long, x1 double, x2 double, y double",
    )


def _assert_matches_numpy_cgm(res, pdf, x):
    X = pdf[x].to_numpy(float)
    b, e = ref.ols(X, pdf["y"].to_numpy())
    assert res.v_coef_names == x
    assert np.allclose(res.b[:, 0], b, rtol=1e-9)
    assert np.allclose(res.V[0], ref.cluster_V(X, e, pdf, ["g", "h"]), rtol=1e-7)


def test_cluster2_onepass_parity(panel, panel_pdf):
    """One-pass CGM sandwich == numpy OLS + CGM sandwich (b and V)."""
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, cluster=["g", "h"]
    )
    _assert_matches_numpy_cgm(fast, panel_pdf, ["x1", "x2"])
    assert fast.n == len(panel_pdf)


def test_cluster2_onepass_triggers_on_clean_data(panel, count_jobs):
    res = E._pooled_sandwich_onepass(
        panel, "y", ["x1", "x2"], ["g", "h"], False, 1e-9
    )
    assert res is not None
    assert res.n == 400
    # key probe, pair table + its reduction, the two threaded roll-ups
    assert count_jobs(
        lambda: E.estimate(
            panel, "y", ["x1", "x2"], estimate_variance=True,
            cluster=["g", "h"],
        )
    ) == 6


def test_cluster2_onepass_declines_nulls_and_nans(panel, spark):
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") == 3, F.lit(None)).otherwise(F.col("x1"))
    )
    assert (
        E._pooled_sandwich_onepass(
            with_null, "y", ["x1", "x2"], ["g", "h"], False, 1e-9
        )
        is None
    )
    with_nan = panel.withColumn(
        "y",
        F.when(F.col("id") == 5, F.lit(float("nan"))).otherwise(F.col("y")),
    )
    assert (
        E._pooled_sandwich_onepass(
            with_nan, "y", ["x1", "x2"], ["g", "h"], False, 1e-9
        )
        is None
    )


def test_cluster2_null_input_same_answer(panel):
    """Null-containing input → internal fallback → identical output to
    the exact four-pass path (which ``get_residual=True`` selects)."""
    with_null = panel.withColumn(
        "x2", F.when(F.col("id") % 41 == 0, F.lit(None)).otherwise(F.col("x2"))
    )
    a, b = (
        E.estimate(
            with_null, "y", ["x1", "x2"], estimate_variance=True,
            cluster=["g", "h"], get_residual=gate,
        )
        for gate in (False, True)
    )
    assert np.allclose(a.b, b.b, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_cluster2_rank_repair_parity(panel, panel_pdf):
    """A collinear regressor is dropped (the later one, x3) and V on
    the surviving block matches numpy on (x1, x2)."""
    coll = panel.withColumn("x3", F.col("x1") * 2.0)
    fast = E.estimate(
        coll, "y", ["x1", "x2", "x3"], check_rank=True,
        estimate_variance=True, cluster=["g", "h"],
    )
    _assert_matches_numpy_cgm(fast, panel_pdf, ["x1", "x2"])


def test_cluster2_key_as_regressor(panel, panel_pdf):
    """A clustering key reused as a regressor (the projected column
    list dedupes) still matches numpy."""
    fast = E.estimate(
        panel, "y", ["x1", "g"], estimate_variance=True, cluster=["g", "h"]
    )
    _assert_matches_numpy_cgm(fast, panel_pdf, ["x1", "g"])
