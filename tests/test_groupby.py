"""Differential tests for the Groupby kernel against pandas — the
reference's own oracle strategy (``tests/test_groupby.py:7-35`` uses
``pandas.groupby().mean()`` / ``.transform('mean')`` on a seeded
100×10 fixture). Same fixture shape reproduced here.
"""

import numpy as np
import pandas as pd
import pytest

from hdfe_spark.operators.groupby import Groupby, demean, grouped_agg, grouped_transform

N_OBS, N_CATEGORIES, SEED = 100, 10, 0


@pytest.fixture(scope="module")
def fixture_pdf():
    rng = np.random.RandomState(SEED)
    return pd.DataFrame(
        {
            "first_category": rng.choice(N_CATEGORIES, N_OBS),
            "y": rng.randn(N_OBS),
        }
    )


@pytest.fixture(scope="module")
def fixture_df(spark, fixture_pdf):
    return spark.createDataFrame(fixture_pdf)


def test_grouped_agg_mean_matches_pandas(fixture_df, fixture_pdf):
    got = (
        grouped_agg(fixture_df, "first_category", ["y"], "mean")
        .toPandas()
        .set_index("first_category")
        .sort_index()["mean_y"]
    )
    want = fixture_pdf.groupby("first_category")["y"].mean()
    np.testing.assert_allclose(got.values, want.values, rtol=1e-12)


def test_grouped_agg_multi_fns(fixture_df, fixture_pdf):
    got = (
        grouped_agg(fixture_df, "first_category", {"y": ["sum", "count", "max"]})
        .toPandas()
        .set_index("first_category")
        .sort_index()
    )
    g = fixture_pdf.groupby("first_category")["y"]
    np.testing.assert_allclose(got["sum_y"].values, g.sum().values, rtol=1e-12)
    np.testing.assert_allclose(got["count_y"].values, g.count().values)
    np.testing.assert_allclose(got["max_y"].values, g.max().values, rtol=1e-12)


def test_grouped_agg_salted_matches_plain(fixture_df, fixture_pdf):
    got = (
        grouped_agg(fixture_df, "first_category", {"y": ["mean", "sum", "count"]}, salt=8)
        .toPandas()
        .set_index("first_category")
        .sort_index()
    )
    g = fixture_pdf.groupby("first_category")["y"]
    np.testing.assert_allclose(got["mean_y"].values, g.mean().values, rtol=1e-12)
    np.testing.assert_allclose(got["sum_y"].values, g.sum().values, rtol=1e-12)
    np.testing.assert_allclose(got["count_y"].values, g.count().values)


def test_grouped_transform_matches_pandas(fixture_df, fixture_pdf):
    got = (
        grouped_transform(fixture_df, "first_category", ["y"], "mean")
        .toPandas()
        .sort_values(["first_category", "y"])
    )
    want = fixture_pdf.assign(
        mean_y=fixture_pdf.groupby("first_category")["y"].transform("mean")
    ).sort_values(["first_category", "y"])
    np.testing.assert_allclose(got["mean_y"].values, want["mean_y"].values, rtol=1e-12)
    assert len(got) == N_OBS  # transform keeps one row per input row


def test_demean(fixture_df, fixture_pdf):
    got = demean(fixture_df, "first_category", "y").toPandas().sort_values(
        ["first_category", "y"]
    )
    want = (
        fixture_pdf["y"]
        - fixture_pdf.groupby("first_category")["y"].transform("mean")
    )
    want = fixture_pdf.assign(y_dm=want).sort_values(["first_category", "y"])
    np.testing.assert_allclose(got["y_dm"].values, want["y_dm"].values, atol=1e-12)
    # demeaned values sum to ~0 within every group
    sums = got.groupby("first_category")["y_dm"].sum()
    np.testing.assert_allclose(sums.values, 0, atol=1e-10)


def test_groupby_apply_agg(fixture_df, fixture_pdf):
    """Arbitrary per-group callable, agg semantics (one row/group)."""

    def span(pdf):
        return pd.DataFrame(
            {
                "first_category": [pdf["first_category"].iloc[0]],
                "span_y": [pdf["y"].max() - pdf["y"].min()],
            }
        )

    got = (
        Groupby(fixture_df, "first_category")
        .apply(span, schema="first_category long, span_y double")
        .toPandas()
        .set_index("first_category")
        .sort_index()
    )
    want = fixture_pdf.groupby("first_category")["y"].agg(lambda s: s.max() - s.min())
    np.testing.assert_allclose(got["span_y"].values, want.values, rtol=1e-12)


def test_groupby_apply_broadcast(fixture_df, fixture_pdf):
    """Arbitrary per-group callable, transform semantics (row-aligned)."""

    def center(pdf):
        out = pdf.copy()
        out["y_centered"] = out["y"] - out["y"].mean()
        return out[["first_category", "y", "y_centered"]]

    got = (
        Groupby(fixture_df, "first_category")
        .apply(
            center,
            schema="first_category long, y double, y_centered double",
            broadcast=True,
        )
        .toPandas()
        .sort_values(["first_category", "y"])
    )
    assert len(got) == N_OBS
    want = (
        fixture_pdf["y"] - fixture_pdf.groupby("first_category")["y"].transform("mean")
    )
    want = fixture_pdf.assign(y_centered=want).sort_values(["first_category", "y"])
    np.testing.assert_allclose(
        got["y_centered"].values, want["y_centered"].values, atol=1e-12
    )


def test_grouped_transform_unknown_fn_raises(fixture_df):
    """An unknown fn name fails on the driver with the list of known
    fns, on the transform path as on the aggregate path."""
    with pytest.raises(KeyError, match="unknown aggregate fn 'nope'; have .*'mean'"):
        grouped_transform(fixture_df, "first_category", {"y": ["mean", "nope"]})
    with pytest.raises(KeyError, match="unknown aggregate fn 'nope'; have .*'mean'"):
        grouped_agg(fixture_df, "first_category", {"y": "nope"})
