"""One-hot encoding tests — reproduces the reference's golden cases
(``tests/test_hdfe_funcs.py:6-52``): 3-element int and string inputs,
drop-last convention, and the two-column block layout.
"""

import numpy as np
import pandas as pd
import pytest

from hdfe_spark.operators.encoding import (
    factorize,
    get_all_dummies,
    make_dummies,
)


@pytest.fixture(scope="module")
def small_int_df(spark):
    # Reference golden input [1, 0, 0] (tests/test_hdfe_funcs.py:7)
    return spark.createDataFrame(pd.DataFrame({"row_id": [0, 1, 2], "cat_a": [1, 0, 0]}))


@pytest.fixture(scope="module")
def small_str_df(spark):
    # Reference golden input ["horse","cat","cat"] (tests/test_hdfe_funcs.py:33)
    return spark.createDataFrame(
        pd.DataFrame({"row_id": [0, 1, 2], "cat_a": ["horse", "cat", "cat"]})
    )


def _matrix(df, names, order_col="row_id"):
    pdf = df.toPandas().sort_values(order_col)
    return pdf[names].values


def test_make_dummies_int(small_int_df):
    out, names = make_dummies(small_int_df, "cat_a", drop_col=False)
    assert names == ["cat_a_is_0", "cat_a_is_1"]
    np.testing.assert_array_equal(
        _matrix(out, names), [[0, 1], [1, 0], [1, 0]]
    )


def test_make_dummies_int_drop_last(small_int_df):
    out, names = make_dummies(small_int_df, "cat_a", drop_col=True)
    assert names == ["cat_a_is_0"]
    np.testing.assert_array_equal(_matrix(out, names), [[0], [1], [1]])


def test_make_dummies_string_sorted_levels(small_str_df):
    # np.unique order: cat < horse — reference tests/test_hdfe_funcs.py:33-45
    out, names = make_dummies(small_str_df, "cat_a", drop_col=False)
    assert names == ["cat_a_is_cat", "cat_a_is_horse"]
    np.testing.assert_array_equal(
        _matrix(out, names), [[0, 1], [1, 0], [1, 0]]
    )


def test_factorize_sorted_codes(small_str_df):
    got = factorize(small_str_df, "cat_a").toPandas().sort_values("row_id")
    assert list(got["cat_a_code"]) == [1, 0, 0]


def test_get_all_dummies_two_cols(spark):
    # Reference golden case rows [[0,0],[1,0],[0,1]]
    # (tests/test_hdfe_funcs.py:48-52): first col all levels, second
    # drop-last.
    df = spark.createDataFrame(
        pd.DataFrame({"row_id": [0, 1, 2], "a": [0, 1, 0], "b": [0, 0, 1]})
    )
    out, names = get_all_dummies(df, ["a", "b"])
    assert names == ["a_is_0", "a_is_1", "b_is_0"]
    np.testing.assert_array_equal(
        _matrix(out, names), [[1, 0, 1], [0, 1, 1], [1, 0, 0]]
    )


def test_vector_output_matches_columns(small_int_df):
    out, [vec_col] = make_dummies(small_int_df, "cat_a", drop_col=False, output="vector")
    pdf = out.toPandas().sort_values("row_id")
    dense = np.array([v.toArray() for v in pdf[vec_col]])
    np.testing.assert_array_equal(dense, [[0, 1], [1, 0], [1, 0]])


def test_get_all_dummies_vector_output(spark):
    """``output="vector"``: one assembled ``dummies`` vector per row —
    all levels of the first column (sorted), drop-last for each later
    one; pinned at the values of the inline encoder it replaced."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "row_id": [0, 1, 2, 3, 4],
                "a": ["horse", "cat", "cat", "dog", "horse"],
                "b": [2, 0, 1, 2, 0],
                "c": [7, 7, 5, 5, 7],
            }
        )
    )
    out, names = get_all_dummies(df, ["a", "b", "c"], output="vector")
    assert names == ["dummies"]
    pdf = out.toPandas().sort_values("row_id")
    dense = np.array([v.toArray() for v in pdf["dummies"]])
    np.testing.assert_array_equal(
        dense,
        [
            [0, 0, 1, 0, 0, 0],
            [1, 0, 0, 1, 0, 0],
            [1, 0, 0, 0, 1, 1],
            [0, 1, 0, 0, 0, 1],
            [0, 0, 1, 1, 0, 0],
        ],
    )


def test_target_encode_loo(spark):
    import pytest

    from hdfe_spark.operators.encoding import target_encode_loo

    rows = [
        ("a", 10.0), ("a", 20.0), ("a", 30.0),
        ("b", 100.0),            # singleton -> prior mean
        (None, 50.0),            # null category -> prior mean
        ("a", None),             # null target -> null encode
    ]
    df = spark.createDataFrame(rows, "cat string, y double")
    out = target_encode_loo(df, "cat", "y", prior_weight=0.0)
    got = {
        (r["cat"], r["y"]): r["cat_te"] for r in out.collect()
    }
    # LOO with no prior: for ("a", 10): (60-10)/2 = 25
    assert got[("a", 10.0)] == pytest.approx(25.0)
    assert got[("a", 20.0)] == pytest.approx(20.0)
    assert got[("a", 30.0)] == pytest.approx(15.0)
    # prior mu spans the SAME population the per-category table
    # smooths toward: category AND target non-null (the NULL-category
    # row (None, 50) is excluded — round-7 ADVICE fix)
    mu = (10 + 20 + 30 + 100) / 4
    # singleton with m=0: 0/0 guarded? prior_weight=0 -> denominator 0
    # -> inf/nan; use the smoothed call for the contract cases below
    out2 = target_encode_loo(df, "cat", "y", prior_weight=2.0)
    got2 = {
        (r["cat"], r["y"]): r["cat_te"] for r in out2.collect()
    }
    assert got2[("b", 100.0)] == pytest.approx(mu)  # pulled to prior
    assert got2[(None, 50.0)] == pytest.approx(mu)
    assert got2[("a", None)] is None
    # smoothing blends LOO mean with prior
    want = ((60 - 10) + 2 * mu) / (3 - 1 + 2)
    assert got2[("a", 10.0)] == pytest.approx(want)


def test_levels_of_order_and_jobs(spark, count_jobs):
    """``levels_of`` sorts the distinct values in one task: the order of
    ``distinct().orderBy(col)`` (NULL first, NaN last) on numbers and
    strings, in two jobs (the distinct's shuffle and the collect)."""
    from hdfe_spark.operators.encoding import levels_of

    df = spark.createDataFrame(
        [(2.0, "b"), (float("nan"), None), (None, "a"), (-1.5, "B"),
         (0.0, "b"), (float("nan"), "a"), (None, ""), (2.0, "é")],
        "x double, s string",
    )
    for col, want in (("x", [None, -1.5, 0.0, 2.0, float("nan")]),
                      ("s", [None, "", "B", "a", "b", "é"])):
        old = [r[0] for r in df.select(col).distinct().orderBy(col).collect()]
        got = levels_of(df, col)
        assert repr(got) == repr(old) == repr(want)
        assert count_jobs(lambda col=col: levels_of(df, col)) == 2
