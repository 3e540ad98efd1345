"""Round-16 optimization guards.

Every optimization must be invisible in results: each test pins the
optimized output against an independent numpy reference
(``ols_reference``: closed-form OLS, LSDV, the homoskedastic / HC1 /
CGM sandwiches), a brute-force Python reference, or the exact path a
data gate selects on the same data (the test_opt_r15* contract).
"""

import sys
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import ols_reference as ref
import set_reference
from hdfe_spark.operators import estimate as E


@pytest.fixture()
def panel_pdf():
    rows = []
    rng = np.random.RandomState(11)
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


def _frame(spark, rows, schema):
    cols = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(rows, schema), pd.DataFrame(rows, columns=cols)


# ------------------------------------------------ se_cluster2 pair gate


def test_cluster2_pair_gate_declines_row_identity_keys(panel, count_jobs):
    """pairs ≈ rows (id × g is row-identity here) → the gate sends the
    call down the exact four-pass path (one-pass returns None)."""
    assert (
        E._pooled_sandwich_onepass(
            panel, "y", ["x1", "x2"], ["id", "g"], False, 1e-9
        )
        is None
    )
    # the key probe, the Gram, then the three score/meat aggregations
    # (AQE runs each shuffle stage as its own job)
    assert count_jobs(
        lambda: E.estimate(
            panel, "y", ["x1", "x2"], estimate_variance=True,
            cluster=["id", "g"],
        )
    ) == 13


def test_cluster2_pair_gate_passes_low_cardinality_keys(panel, count_jobs):
    """pairs ≪ rows (13×5 = 65 pairs / 400 rows) → one-pass still
    selected through the gate."""
    res = E._pooled_sandwich_onepass(
        panel, "y", ["x1", "x2"], ["g", "h"], False, 1e-9
    )
    assert res is not None
    assert res.n == 400
    assert count_jobs(
        lambda: E.estimate(
            panel, "y", ["x1", "x2"], estimate_variance=True,
            cluster=["g", "h"],
        )
    ) == 6


def test_cluster2_gate_ratio_env_override(panel, panel_pdf, monkeypatch):
    """Forcing the ratio to 1.1 re-enables one-pass on row-identity
    keys, and its values still match numpy OLS + the CGM sandwich (the
    r15 parity contract is independent of the gate)."""
    monkeypatch.setattr(E, "_CLUSTER2_PAIR_RATIO", 1.1)
    assert E._pooled_sandwich_onepass(
        panel, "y", ["x1", "x2"], ["id", "g"], False, 1e-9
    ) is not None
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True,
        cluster=["id", "g"],
    )
    X = panel_pdf[["x1", "x2"]].to_numpy()
    b, e = ref.ols(X, panel_pdf["y"].to_numpy())
    assert np.allclose(fast.b[:, 0], b, rtol=1e-9)
    assert np.allclose(fast.V[0], ref.cluster_V(X, e, panel_pdf, ["id", "g"]), rtol=1e-7)


def test_cluster2_gated_exact_path_same_answer(panel):
    """With the gate declining (row-identity keys), the default call
    must equal the exact four-pass path that ``get_residual=True``
    selects, bit-for-bit (both run the same plan)."""
    a, b = (
        E.estimate(
            panel, "y", ["x1", "x2"], estimate_variance=True,
            cluster=["id", "g"], get_residual=gate,
        )
        for gate in (False, True)
    )
    assert np.allclose(a.b, b.b, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


# ------------------------------- Plan B variance via the moment fast path


def test_within_variance_moment_parity(panel, panel_pdf):
    """Homoskedastic-SE within regression: moment fast path == numpy
    LSDV fit (b, V, n, names) — small-FE branch (13 levels → full FE
    covariance block, levels first)."""
    fast = E.estimate(
        panel, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    b, _, _ = ref.within_fit(panel_pdf, "g", ["x1", "x2"], "y")
    assert np.allclose(fast.slopes[:, 0], b, rtol=1e-9)
    assert fast.n == len(panel_pdf)
    assert fast.v_coef_names == [f"g={v}" for v in range(13)] + ["x1", "x2"]
    V = ref.lsdv_V(panel_pdf, "g", ["x1", "x2"], "y")
    assert np.allclose(fast.V[0], V, rtol=1e-6)


def test_within_variance_moment_parity_many_levels(spark):
    """> 2000 FE levels → the slopes-only V branch; the moment path
    must match numpy within-OLS there too (dof absorbs every level)."""
    rows = []
    rng = np.random.RandomState(3)
    for i in range(4400):
        g = i % 2200
        x1 = float(rng.randint(0, 100)) / 7.0
        y = 1.5 * x1 + (g % 7) * 0.25 + float(rng.randint(0, 10)) / 13.0
        rows.append((g, x1, y))
    df, pdf = _frame(spark, rows, "g long, x1 double, y double")
    fast = E.estimate(
        df, "y", ["x1"], categorical_controls=["g"], estimate_variance=True
    )
    b, e, Xd = ref.within_fit(pdf, "g", ["x1"], "y")
    assert np.allclose(fast.slopes[:, 0], b, rtol=1e-9)
    assert fast.v_coef_names == ["x1"]
    V = ref.homosked_V(Xd, e, n_absorbed=2200)
    assert np.allclose(fast.V[0], V, rtol=1e-6)


def test_within_variance_null_fallback_same_answer(panel, monkeypatch):
    """NULL x → moment pass declines internally → window path → output
    identical to the window path that the width gate selects."""
    with_null = panel.withColumn(
        "x1", F.when(F.col("id") % 37 == 0, F.lit(None)).otherwise(F.col("x1"))
    )
    a = E.estimate(
        with_null, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    monkeypatch.setattr(E, "_WITHIN_FAST_MAX_COLS", 0)
    b = E.estimate(
        with_null, "y", ["x1", "x2"], categorical_controls=["g"],
        estimate_variance=True,
    )
    assert np.allclose(a.slopes, b.slopes, rtol=0, atol=0)
    assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_within_variance_perfect_fit_guard(spark):
    """R² = 1 (y exactly linear in x within groups) trips the RSS
    cancellation guard; the exact residual scan must take over and
    agree with numpy LSDV (V ≈ 0 up to rounding)."""
    rows = [(i % 9, float(i % 31), 3.0 * (i % 31) + (i % 9) * 2.0) for i in range(300)]
    df, pdf = _frame(spark, rows, "g long, x double, y double")
    fast = E.estimate(
        df, "y", ["x"], categorical_controls=["g"], estimate_variance=True
    )
    b, _, _ = ref.within_fit(pdf, "g", ["x"], "y")
    assert np.allclose(fast.slopes[:, 0], b, rtol=1e-9)
    V = ref.lsdv_V(pdf, "g", ["x"], "y")
    assert np.allclose(fast.V[0], V, rtol=1e-6, atol=1e-18)


def test_rss_from_moments_guard():
    """Direct guard check: catastrophic cancellation → None."""
    # rss == 0 against large positive parts → decline
    yy = [100.0]
    G = np.array([[100.0]])
    Xty = np.array([[100.0]])
    b = np.array([[1.0]])
    assert E._rss_from_moments(yy, Xty, G, b) is None
    # healthy case → exact closed form
    yy = [10.0]
    Xty = np.array([[2.0]])
    G = np.array([[4.0]])
    b = np.array([[0.5]])
    out = E._rss_from_moments(yy, Xty, G, b)
    assert out is not None and np.isclose(out[0], 10.0 - 2.0 + 1.0)


def test_residuals_schema_no_dm_leak_rank_repair(panel, monkeypatch):
    """Window path + check_rank dropping a collinear regressor must
    not leak the dropped regressor's __dm_* column into the public
    residual frame (ADVICE r15)."""
    coll = panel.withColumn("x3", F.col("x1") * 2.0).withColumn(
        "x2", F.when(F.col("id") == 7, F.lit(None)).otherwise(F.col("x2"))
    )  # NULL forces the window path; x3 is collinear with x1
    res = E.estimate(
        coll, "y", ["x1", "x2", "x3"], categorical_controls=["g"],
        check_rank=True, get_residual=True,
    )
    assert not [c for c in res.residuals.columns if c.startswith("__dm_")]


# ----------------------------------------------- fit_stats moment path


def _fit_stats_reference(pdf, fe, x, y):
    """numpy within fit panel: RSS, TSS, R², adjusted R², F on
    (k, n − G − k) dof with G absorbed levels (NULL is a level)."""
    b, e, _ = ref.within_fit(pdf, fe, x, y)
    yd = ref.demeaned(pdf, fe, [y])[y].to_numpy()
    n, k, G = len(pdf), len(x), pdf[fe].nunique(dropna=False)
    rss, tss = float(e @ e), float(yd @ yd)
    df2 = n - G - k
    return {
        "n": n, "n_groups": G, "b": b, "rss": rss, "tss": tss,
        "r2": 1 - rss / tss,
        "adj_r2": 1 - (rss / df2) / (tss / (n - G)),
        "f_stat": ((tss - rss) / k) / (rss / df2),
    }


def test_fit_stats_moment_parity(panel, panel_pdf):
    from hdfe_spark.operators.estimate import fit_stats

    fast = fit_stats(panel, "y", ["x1", "x2"], categorical_controls=["g"])
    want = _fit_stats_reference(panel_pdf, "g", ["x1", "x2"], "y")
    assert fast["n"] == want["n"]
    assert fast["n_groups"] == want["n_groups"]
    for key in ("r2", "adj_r2", "f_stat", "rss", "tss"):
        assert np.isclose(fast[key], want[key], rtol=1e-7), key
    assert np.allclose(fast["b"], want["b"], rtol=1e-9)


def test_fit_stats_near_perfect_fit_guard(spark, monkeypatch):
    """Review r16 (CONFIRMED finding): near R²=1 with large absorbed
    group means, the moment M's loss-amplified error would corrupt the
    closed-form RSS — the guard must route to the window path, so the
    default call agrees with the window path that the width gate
    selects. (The window RSS itself carries ~1e-9 absolute cancellation
    error here, so an independently rounded numpy RSS cannot pin it to
    1e-6.)"""
    from hdfe_spark.operators.estimate import fit_stats

    rows = []
    rng = np.random.RandomState(5)
    for i in range(4000):
        g = i % 10
        x = float(i % 40)
        y = 2.0 * x + g * 300.0 + float(rng.uniform(-1e-5, 1e-5))
        rows.append((g, x, y))
    df = spark.createDataFrame(rows, "g long, x double, y double")
    fast = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    monkeypatch.setattr(E, "_WITHIN_FAST_MAX_COLS", 0)
    slow = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    assert np.isclose(fast["rss"], slow["rss"], rtol=1e-6)
    assert np.isclose(fast["f_stat"], slow["f_stat"], rtol=1e-6)


def test_fit_stats_moment_null_fe_level(spark):
    """A NULL FE level is its own absorbed group (numpy reference
    groups with dropna=False)."""
    from hdfe_spark.operators.estimate import fit_stats

    rows = [
        (None if i % 5 == 0 else i % 4, float(i % 11), 2.0 * (i % 11) + (i % 4))
        for i in range(200)
    ]
    df, pdf = _frame(spark, rows, "g int, x double, y double")
    fast = fit_stats(df, "y", ["x"], categorical_controls=["g"])
    want = _fit_stats_reference(pdf, "g", ["x"], "y")
    assert fast["n_groups"] == want["n_groups"] == 5
    assert np.isclose(fast["r2"], want["r2"], rtol=1e-7)


# ------------------------------------------------ pooled one-pass SEs


def _pooled_reference(pdf, x, robust):
    X = pdf[x].to_numpy()
    b, e = ref.ols(X, pdf["y"].to_numpy())
    return b, (ref.hc1_V(X, e) if robust else ref.homosked_V(X, e))


def test_pooled_homosked_onepass_parity(panel, panel_pdf):
    fast = E.estimate(panel, "y", ["x1", "x2"], estimate_variance=True)
    b, V = _pooled_reference(panel_pdf, ["x1", "x2"], robust=False)
    assert np.allclose(fast.b[:, 0], b, rtol=1e-9)
    assert fast.n == len(panel_pdf)
    assert fast.v_coef_names == ["x1", "x2"]
    assert np.allclose(fast.V[0], V, rtol=1e-7)


def test_pooled_hc1_onepass_parity(panel, panel_pdf):
    fast = E.estimate(
        panel, "y", ["x1", "x2"], estimate_variance=True, robust=True
    )
    b, V = _pooled_reference(panel_pdf, ["x1", "x2"], robust=True)
    assert np.allclose(fast.b[:, 0], b, rtol=1e-9)
    assert np.allclose(fast.V[0], V, rtol=1e-7)


def test_pooled_onepass_null_fallback(panel):
    """NULL anywhere → internal decline → exact path → identical to
    the exact path that ``get_residual=True`` selects. (NaN also
    declines, but the exact path itself propagates NaN into the Gram
    and raises — pre-existing behavior, not testable as a value.)"""
    bad = panel.withColumn(
        "x2",
        F.when(F.col("id") == 11, F.lit(None)).otherwise(F.col("x2")),
    )
    for extra in ({"robust": True}, {}):
        a = E.estimate(bad, "y", ["x1", "x2"], estimate_variance=True, **extra)
        b = E.estimate(
            bad, "y", ["x1", "x2"], estimate_variance=True,
            get_residual=True, **extra,
        )
        assert np.allclose(a.b, b.b, rtol=0, atol=0)
        assert np.allclose(a.V[0], b.V[0], rtol=0, atol=0)


def test_pooled_onepass_rank_repair_parity(panel, panel_pdf):
    """The later collinear regressor (x3 = 2·x1) is dropped; b and V on
    the surviving block match numpy on (x1, x2)."""
    coll = panel.withColumn("x3", F.col("x1") * 2.0)
    for robust in (True, False):
        fast = E.estimate(
            coll, "y", ["x1", "x2", "x3"], check_rank=True,
            estimate_variance=True, robust=robust,
        )
        b, V = _pooled_reference(panel_pdf, ["x1", "x2"], robust)
        assert fast.v_coef_names == ["x1", "x2"]
        assert np.allclose(fast.b[:, 0], b, rtol=1e-9)
        assert np.allclose(fast.V[0], V, rtol=1e-7)


def test_pooled_onepass_triggers_on_clean_data(panel, count_jobs):
    assert (
        E._pooled_sandwich_onepass(panel, "y", ["x1", "x2"], [], False, 1e-9)
        is not None
    )
    assert (
        E._pooled_homosked_onepass(panel, ["y"], ["x1", "x2"], False, 1e-9)
        is not None
    )
    # One pass on clean data; a NULL declines to the Gram + residual
    # scan path, whose job count shows it ran.
    bad = panel.withColumn(
        "x2",
        F.when(F.col("id") == 11, F.lit(None)).otherwise(F.col("x2")),
    )
    for extra in ({}, {"robust": True}):
        for frame, jobs in ((panel, 2), (bad, 6)):
            assert count_jobs(
                lambda: E.estimate(
                    frame, "y", ["x1", "x2"], estimate_variance=True, **extra
                )
            ) == jobs


# --------------------------------------------- _spread_by_keys probing


def test_spread_by_keys_ignores_user_identifiers(spark):
    """A column named 'SortKey' must not disable the spread (the old
    substring probe matched it against the Sort node name)."""
    df = spark.range(0, 1000, 1, 1).select(
        (F.col("id") % 7).alias("SortKey"), F.col("id").alias("v")
    )
    out = E._spread_by_keys(df, ["SortKey"])
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_spread_by_keys_still_skips_real_aggregates(spark):
    df = (
        spark.range(0, 1000, 1, 1)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert E._spread_by_keys(df, ["k"]) is df


# -------------------------------------- grouped_transform collision


def test_grouped_transform_collision_keeps_window_semantics(spark):
    from hdfe_spark.operators.groupby import grouped_transform

    rows = [(1, 2.0, -1.0), (1, 4.0, -1.0), (2, 10.0, -1.0)]
    df, pdf = _frame(spark, rows, "k int, v double, mean_v double")
    out = grouped_transform(df, "k", ["v"])
    # withColumn semantics: exactly one mean_v column, in place,
    # holding the group mean (the pre-existing column is replaced, not
    # duplicated)
    assert out.columns == ["k", "v", "mean_v"]
    pdf["mean_v"] = pdf.groupby("k")["v"].transform("mean")
    assert sorted(map(tuple, out.collect())) == sorted(
        pdf.itertuples(index=False, name=None)
    )


# ------------------------------------------- py_stage_partitions width


def test_py_stage_partitions_data_aware(spark, monkeypatch):
    from hdfe_spark.session import py_stage_partitions

    df = spark.range(0, 10_000)
    cores = spark.sparkContext.defaultParallelism
    floor = max(8, cores // 4)
    # huge target → size below one block → floor (local-default shape)
    monkeypatch.setenv("HDFE_PY_STAGE_TARGET_BYTES", str(1 << 40))
    assert py_stage_partitions(spark, df) == floor
    # tiny target → width grows but is capped at 2×cores
    monkeypatch.setenv("HDFE_PY_STAGE_TARGET_BYTES", "1")
    assert py_stage_partitions(spark, df) == max(floor, cores * 2)
    monkeypatch.delenv("HDFE_PY_STAGE_TARGET_BYTES")
    # explicit env still wins
    monkeypatch.setenv("HDFE_PY_STAGE_PARTITIONS", "5")
    assert py_stage_partitions(spark, df) == 5


# ----------------------------------------------- dedup persist registry


def test_query_scoped_persist_bounded_and_releasable(spark, monkeypatch):
    from hdfe_spark.operators import dedup as D

    D.release_query_caches()
    monkeypatch.setenv("HDFE_SCOPED_PERSIST_CAP", "4")
    frames = [spark.range(0, 10 + i) for i in range(6)]
    for f in frames:
        D._query_scoped_persist(f)
    assert len(D._SCOPED_PERSISTS) == 4
    D.release_query_caches()
    assert not D._SCOPED_PERSISTS


class _FakeFrame:
    """Stands in for a DataFrame: the registry only calls these two."""

    def persist(self, level):
        return self

    def unpersist(self, blocking):
        pass


def test_query_scoped_persist_thread_safe(monkeypatch):
    """Registrations and releases interleaved across more threads than
    cores, with a tiny switch interval: no exception from the eviction
    loop, and the registry never exceeds the cap."""
    from hdfe_spark.operators import dedup as D

    D.release_query_caches()
    monkeypatch.setenv("HDFE_SCOPED_PERSIST_CAP", "3")
    errors, sizes = [], []
    start = threading.Barrier(8)

    def register():
        try:
            start.wait()
            for _ in range(2000):
                D._query_scoped_persist(_FakeFrame())
                sizes.append(len(D._SCOPED_PERSISTS))
        except Exception as exc:  # noqa: BLE001 — the test's subject
            errors.append(exc)

    def release():
        try:
            start.wait()
            for _ in range(2000):
                D.release_query_caches()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=register) for _ in range(6)]
    threads += [threading.Thread(target=release) for _ in range(2)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    D.release_query_caches()
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(sizes) == 6 * 2000 and max(sizes) <= 3


def test_setsim_fused_values_identical(spark):
    """The fused (persisted ordered-set) plan == brute-force all-pairs
    word-shingle Jaccard."""
    from hdfe_spark.operators.setjoin import setsim_join

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy cat again and again"),
        (3, "a completely different sentence with other words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fused = setsim_join(df, tau=0.5).collect()
    key = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in fused)
    assert key == set_reference.setsim_pairs(rows, 5, 0.5)
    assert key  # non-empty: the near-dup pairs were found


def test_ngram_fused_values_identical(spark, sf_dir):
    """The fused (persisted shingle-set) plan == brute-force Jaccard of
    the two documents' lowercased UTF-8 byte 5-gram sets."""
    from hdfe_spark.operators.dedup import ngram_jaccard_pairs
    from hdfe_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    pairs = (
        docs.select(F.col("doc_id").alias("id_a"))
        .withColumn("id_b", F.col("id_a") + 1)
        .join(docs.select(F.col("doc_id").alias("id_b")), on="id_b")
    )
    fused = ngram_jaccard_pairs(docs, pairs, "text", "doc_id", 5).collect()
    text = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    want = sorted(
        (a, a + 1, set_reference.jaccard(
            set_reference.byte_grams(text[a], 5),
            set_reference.byte_grams(text[a + 1], 5),
        ))
        for a in text
        if a + 1 in text
    )
    assert sorted([(r["id_a"], r["id_b"], r["jaccard"]) for r in fused]) == want
