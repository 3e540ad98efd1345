"""Round-15 additions: the bayes_ab count-envelope contract
(VERDICT r14 item 6) — method= policy, the envelope raise, and the
property-pinned error bound of the normal escape."""

import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hdfe_spark.operators.stats import (
    _bayes_ab_escape,
    _bayes_ab_exact,
    _bayes_ab_normal,
    bayes_ab,
)


def _df(spark, n_a=6, s_a=4, n_b=6, s_b=5):
    rows = (
        [("A", 1.0)] * s_a + [("A", 0.0)] * (n_a - s_a)
        + [("B", 1.0)] * s_b + [("B", 0.0)] * (n_b - s_b)
    )
    return spark.createDataFrame(rows, "arm string, s double")


def test_bayes_ab_method_exact_within_envelope(spark):
    r = bayes_ab(_df(spark), "arm", "s", "A", "B",
                 method="exact").collect()[0]
    assert r["method"] == "exact"
    assert math.isclose(
        r["p_b_beats_a"], _bayes_ab_exact(5, 3, 6, 2), rel_tol=1e-12
    )


def test_bayes_ab_method_exact_envelope_raise(spark):
    # the ENVELOPE RAISE: exact demanded above exact_max must fail
    # loudly, never loop unboundedly or silently approximate
    with pytest.raises(ValueError, match="exact_max"):
        bayes_ab(_df(spark), "arm", "s", "A", "B",
                 exact_max=3, method="exact")


def test_bayes_ab_method_normal_forced(spark):
    r = bayes_ab(_df(spark), "arm", "s", "A", "B",
                 method="normal").collect()[0]
    assert r["method"] == "normal"
    assert math.isclose(
        r["p_b_beats_a"], _bayes_ab_normal(5, 3, 6, 2), rel_tol=1e-12
    )


def test_bayes_ab_method_auto_escapes_silently(spark):
    a = bayes_ab(_df(spark), "arm", "s", "A", "B",
                 exact_max=3).collect()[0]
    assert a["method"] == "normal"
    b = bayes_ab(_df(spark), "arm", "s", "A", "B",
                 exact_max=3, method="normal").collect()[0]
    assert a["p_b_beats_a"] == b["p_b_beats_a"]


def test_bayes_ab_unknown_method_raises(spark):
    with pytest.raises(ValueError, match="unknown method"):
        bayes_ab(_df(spark), "arm", "s", "A", "B", method="mcmc")


# ------------------------------------------------ the pinned bound
#
# The docstring advertises |exact − escape| <= 0.6/sqrt(min
# posterior n). Hypothesis sweeps the count × rate grid (driver-side
# scalar math only — no Spark session needed, so the sweep is cheap).
# Where the escape answers "normal", its value is the plain normal
# formula, so the bound holds for that formula there.


@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=50, max_value=4000),
    pa=st.floats(min_value=0.0, max_value=1.0),
    pb=st.floats(min_value=0.0, max_value=1.0),
)
def test_bayes_ab_normal_escape_error_bound(n, pa, pb):
    s_a, s_b = int(round(n * pa)), int(round(n * pb))
    aA, bA = 1 + s_a, 1 + n - s_a
    aB, bB = 1 + s_b, 1 + n - s_b
    p, method = _bayes_ab_escape(aA, bA, aB, bB)
    if method == "normal":
        assert p == _bayes_ab_normal(aA, bA, aB, bB)
    err = abs(_bayes_ab_exact(aA, bA, aB, bB) - p)
    assert err <= 0.6 / math.sqrt(min(aA + bA, aB + bB))


# Unequal arms: near equal rates the small arm's skew no longer
# cancels against the large arm's, which is where the plain normal
# formula misses the bound. B's count is drawn around A's rate.
@settings(max_examples=200, deadline=None)
@given(
    n_a=st.integers(min_value=50, max_value=2000),
    ratio=st.floats(min_value=1.5, max_value=16.0),
    s_a=st.integers(min_value=0, max_value=60),
    d=st.floats(min_value=-1.5, max_value=1.5),
    failures=st.booleans(),
)
@example(n_a=1000, ratio=8.0, s_a=7, d=(64 - 56) / (8 * math.sqrt(8)),
         failures=False)
@example(n_a=454, ratio=3356 / 454, s_a=6,
         d=(45 * 454 / 3356 - 6) / math.sqrt(7), failures=False)
def test_bayes_ab_escape_error_bound_unequal_arms(n_a, ratio, s_a, d,
                                                  failures):
    n_b = round(n_a * ratio)
    s_a = min(s_a, n_a)
    s_b = round((s_a + d * math.sqrt(s_a + 1)) * n_b / n_a)
    s_b = min(max(s_b, 0), n_b)
    if failures:
        s_a, s_b = n_a - s_a, n_b - s_b
    aA, bA = 1 + s_a, 1 + n_a - s_a
    aB, bB = 1 + s_b, 1 + n_b - s_b
    p, method = _bayes_ab_escape(aA, bA, aB, bB)
    if method == "normal":
        assert p == _bayes_ab_normal(aA, bA, aB, bB)
    err = abs(_bayes_ab_exact(aA, bA, aB, bB) - p)
    assert err <= 0.6 / math.sqrt(min(aA + bA, aB + bB))


def test_bayes_ab_short_cook_sum_reports_exact(spark):
    # 0 vs 2 successes of 400: the plain normal formula misses the
    # bound on such skewed posteriors, so the escape takes the short
    # Cook sum, and the method column says so
    r = bayes_ab(_df(spark, 400, 0, 400, 2), "arm", "s", "A", "B",
                 method="normal").collect()[0]
    assert r["method"] == "exact"
    assert r["p_b_beats_a"] == _bayes_ab_exact(1, 401, 3, 399)
    assert abs(_bayes_ab_normal(1, 401, 3, 399) - r["p_b_beats_a"]) > (
        0.6 / math.sqrt(402))


def test_bayes_ab_swap_identity_scalar():
    # P(B>A) + P(A>B) == 1 for continuous posteriors (no ties)
    p1 = _bayes_ab_exact(5, 9, 11, 3)
    p2 = _bayes_ab_exact(11, 3, 5, 9)
    assert math.isclose(p1 + p2, 1.0, abs_tol=1e-12)


# --------------------------------------------------- cohens_d_by


def test_cohens_d_by_matches_numpy_replica(spark):
    import numpy as np

    from hdfe_spark.operators.stats import cohens_d_by

    rng = np.random.default_rng(7)
    rows = []
    for g in ("x", "y"):
        for arm, mu in (("A", 10.0), ("B", 11.5)):
            for v in rng.normal(mu, 2.0, 40):
                rows.append((g, arm, round(float(v), 4)))
    df = spark.createDataFrame(rows, "g string, arm string, v double")
    out = {r["g"]: r for r in
           cohens_d_by(df, "g", "arm", "v", "A", "B").collect()}
    import math

    for g in ("x", "y"):
        a = np.array([v for gg, arm, v in rows if gg == g and arm == "A"])
        b = np.array([v for gg, arm, v in rows if gg == g and arm == "B"])
        sp2 = (
            (len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1)
        ) / (len(a) + len(b) - 2)
        d = (b.mean() - a.mean()) / math.sqrt(sp2)
        gh = d * (1 - 3.0 / (4 * (len(a) + len(b)) - 9))
        r = out[g]
        assert math.isclose(r["d"], d, rel_tol=1e-9)
        assert math.isclose(r["hedges_g"], gh, rel_tol=1e-9)
        assert math.isclose(r["mean_a"], a.mean(), rel_tol=1e-9)


def test_cohens_d_by_thin_arm_and_null_group(spark):
    from hdfe_spark.operators.stats import cohens_d_by

    df = spark.createDataFrame(
        [("g", "A", 1.0), ("g", "B", 2.0), ("g", "B", 3.0),
         (None, "A", 1.0), (None, "A", 2.0), (None, "B", 4.0),
         (None, "B", 6.0)],
        "g string, arm string, v double",
    )
    out = {r["g"]: r for r in
           cohens_d_by(df, "g", "arm", "v", "A", "B").collect()}
    assert out["g"]["d"] is None          # arm A thinner than 2
    assert out["g"]["mean_a"] is not None
    assert out[None]["d"] is not None     # NULL group is a group


def test_cohens_d_by_zero_variance_nulls(spark):
    from hdfe_spark.operators.stats import cohens_d_by

    df = spark.createDataFrame(
        [("g", "A", 5.0)] * 3 + [("g", "B", 5.0)] * 3,
        "g string, arm string, v double",
    )
    r = cohens_d_by(df, "g", "arm", "v", "A", "B").collect()[0]
    assert r["d"] is None and r["hedges_g"] is None  # sp2 == 0


# --------------------------------------------------- e_value


def test_e_value_matches_replica(spark):
    import math

    from hdfe_spark.operators.causal import e_value

    # 2x2: treated 30/100 events, control 15/100
    rows = (
        [(True, 1.0)] * 30 + [(True, 0.0)] * 70
        + [(False, 1.0)] * 15 + [(False, 0.0)] * 85
    )
    df = spark.createDataFrame(rows, "t boolean, y double")
    r = e_value(df, "t", "y").collect()[0]
    p1, p0 = 0.3, 0.15
    rr = p1 / p0
    assert math.isclose(r["rr"], rr, rel_tol=1e-12)
    ev = rr + math.sqrt(rr * (rr - 1))
    assert math.isclose(r["e_value"], ev, rel_tol=1e-12)
    se = math.sqrt((1 - p1) / (100 * p1) + (1 - p0) / (100 * p0))
    lo = math.exp(math.log(rr) - 1.9599639845400545 * se)
    assert math.isclose(r["rr_lo"], lo, rel_tol=1e-12)
    assert math.isclose(
        r["e_value_ci"], lo + math.sqrt(lo * (lo - 1)), rel_tol=1e-12
    )


def test_e_value_protective_rr_symmetric(spark):
    import math

    from hdfe_spark.operators.causal import e_value

    rows = (
        [(True, 1.0)] * 15 + [(True, 0.0)] * 85
        + [(False, 1.0)] * 30 + [(False, 0.0)] * 70
    )
    df = spark.createDataFrame(rows, "t boolean, y double")
    r = e_value(df, "t", "y").collect()[0]
    rr = 0.15 / 0.30
    rs = 1.0 / rr
    assert math.isclose(
        r["e_value"], rs + math.sqrt(rs * (rs - 1)), rel_tol=1e-12
    )


def test_e_value_ci_crossing_null_clamps_to_one(spark):
    from hdfe_spark.operators.causal import e_value

    # nearly identical rates: CI crosses 1 -> e_value_ci == 1.0
    rows = (
        [(True, 1.0)] * 20 + [(True, 0.0)] * 80
        + [(False, 1.0)] * 19 + [(False, 0.0)] * 81
    )
    df = spark.createDataFrame(rows, "t boolean, y double")
    r = e_value(df, "t", "y").collect()[0]
    assert r["e_value_ci"] == 1.0
    assert r["e_value"] > 1.0


def test_e_value_degenerate_and_guards(spark):
    import pytest

    from hdfe_spark.operators.causal import e_value

    # zero events in control -> NULL inference, counts still report
    rows = [(True, 1.0)] * 5 + [(True, 0.0)] * 5 + [(False, 0.0)] * 10
    df = spark.createDataFrame(rows, "t boolean, y double")
    r = e_value(df, "t", "y").collect()[0]
    assert r["rr"] is None and r["e_value"] is None
    assert r["n_ctrl"] == 10 and r["s_ctrl"] == 0
    bad = spark.createDataFrame([(True, 2.0)], "t boolean, y double")
    with pytest.raises(Exception, match="outside"):
        e_value(bad, "t", "y").collect()


# --------------------------------------------------- iv_first_stage


def test_iv_first_stage_matches_numpy(spark):
    import math

    import numpy as np

    from hdfe_spark.operators.causal import iv_first_stage

    rng = np.random.default_rng(11)
    z = np.round(rng.normal(0, 1, 500), 4)
    x = np.round(0.7 * z + rng.normal(0, 1, 500), 4)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, z)],
        "x double, z double",
    )
    r = iv_first_stage(df, "x", "z").collect()[0]
    n = len(z)
    szz = n * (z * z).sum() - z.sum() ** 2
    sxx = n * (x * x).sum() - x.sum() ** 2
    sxz = n * (x * z).sum() - x.sum() * z.sum()
    pi = sxz / szz
    r2 = sxz * sxz / (szz * sxx)
    f = (n - 2) * r2 / (1 - r2)
    assert math.isclose(r["pi"], pi, rel_tol=1e-6)
    assert math.isclose(r["r2"], r2, rel_tol=1e-6)
    assert math.isclose(r["f_stat"], f, rel_tol=1e-6)
    assert r["weak"] is False  # strong instrument by construction


def test_iv_first_stage_weak_flag_and_degenerate(spark):
    import numpy as np

    from hdfe_spark.operators.causal import iv_first_stage

    rng = np.random.default_rng(3)
    z = np.round(rng.normal(0, 1, 300), 4)
    x = np.round(0.01 * z + rng.normal(0, 1, 300), 4)  # weak
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, z)],
        "x double, z double",
    )
    r = iv_first_stage(df, "x", "z").collect()[0]
    assert r["weak"] is True
    const = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)], "x double, z double"
    )
    rc = iv_first_stage(const, "x", "z").collect()[0]
    assert rc["pi"] is None and rc["f_stat"] is None  # zero z-var


def test_iv_first_stage_same_col_raises(spark):
    import pytest

    from hdfe_spark.operators.causal import iv_first_stage

    df = spark.createDataFrame([(1.0, 1.0)], "x double, z double")
    with pytest.raises(ValueError, match="must differ"):
        iv_first_stage(df, "x", "x")


# --------------------------------------------------- streaming_wilson


def test_streaming_wilson_equals_batch(spark, sf_dir):
    """availableNow fold == batch table exactly (additive counters),
    the 28th streaming form's defining equality."""
    import uuid

    from hdfe_spark.operators.stats import wilson_ci_by
    from hdfe_spark.streaming.ops import (
        read_table_stream,
        streaming_wilson,
    )

    def shape(df):
        return df.filter(F.col("event_id").isNotNull()).select(
            (F.col("user_id") % 7).cast("long").alias("seg"),
            F.when(F.col("event_id") % 3 == 0, F.lit(1.0))
            .otherwise(F.lit(0.0)).alias("s"),
        )

    batch = wilson_ci_by(
        shape(spark.read.parquet(f"{sf_dir}/events.parquet")),
        "seg", "s",
    ).collect()
    stream = streaming_wilson(
        shape(read_table_stream(spark, sf_dir, "events")), "seg", "s"
    )
    sink = "t" + uuid.uuid4().hex[:12]
    q = (
        stream.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table(sink).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


# --------------------------------------------------- iv_within


def test_iv_within_matches_numpy_replica(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    n = 600
    fe = rng.integers(0, 4, n)
    z = np.round(rng.normal(0, 1, n), 4)
    u = rng.normal(0, 1, n)
    x = np.round(0.8 * z + 0.5 * u + rng.normal(0, 0.5, n), 4)
    y = np.round(
        2.0 * x + 1.5 * u + fe * 3.0 + rng.normal(0, 0.3, n), 4
    )
    df = spark.createDataFrame(
        [(int(f), float(a), float(b), float(c))
         for f, a, b, c in zip(fe, x, z, y)],
        "fe int, x double, z double, y double",
    )
    from hdfe_spark.operators.estimate import iv_within

    res = iv_within(df, "y", "x", "z", "fe", estimate_variance=True)
    # numpy replica: demean by fe, just-identified IV slope
    xd, zd, yd = x.astype(float), z.astype(float), y.astype(float)
    for g in range(4):
        m = fe == g
        xd = np.where(m, xd - x[m].mean(), xd)
        zd = np.where(m, zd - z[m].mean(), zd)
        yd = np.where(m, yd - y[m].mean(), yd)
    b = (zd @ yd) / (zd @ xd)
    assert abs(float(res.b[0, 0]) - b) < 1e-9
    assert res.n == n and res.n_absorbed == 4
    # variance: inner 2SLS sandwich rescaled to n - G - k
    xpx = (zd @ xd) ** 2 / (zd @ zd)
    rss = yd @ yd - 2 * b * (xd @ yd) + b * b * (xd @ xd)
    v = (max(rss, 0.0) / (n - 4 - 1)) / xpx
    assert abs(float(res.V[0][0, 0]) - v) / v < 1e-9


def test_iv_within_null_rows_drop_listwise(spark):
    from hdfe_spark.operators.estimate import iv_within

    rows = [
        (1, 1.0, 1.1, 2.0), (1, 2.0, 1.9, 4.1), (1, 3.0, 3.2, 6.2),
        (2, 1.5, 1.4, 3.2), (2, 2.5, 2.6, 5.1), (2, 3.5, 3.4, 7.3),
        (1, None, 1.0, 2.0), (2, 2.0, float("nan"), 4.0),
    ]
    df = spark.createDataFrame(rows, "fe int, x double, z double, y double")
    res = iv_within(df, "y", "x", "z", "fe")
    assert res.n == 6  # both incomplete rows dropped listwise


def test_iv_within_self_instrument_raises(spark):
    import pytest

    from hdfe_spark.operators.estimate import iv_within

    df = spark.createDataFrame(
        [(1, 1.0, 2.0)], "fe int, x double, y double"
    )
    with pytest.raises(ValueError, match="instrument"):
        iv_within(df, "y", "x", "x", "fe")
