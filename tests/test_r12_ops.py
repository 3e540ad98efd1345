"""Round-12 build pins.

VERDICT r11 item 4: `holt_blocked`'s per-element fold now carries
only the 2-field offset vector; the data-independent block matrix
M(len) = T^len arrives from the driver-side `_holt_linear_maps`
replay. The tests here pin the core claim — the new path is
BIT-IDENTICAL to the retired 6-field in-plan struct fold — by
re-implementing the retired fold inline and comparing on a
genuinely multi-block fixture.
"""

import math
import struct as _struct

import pytest
from pyspark.sql import functions as F


def _bits(x: float) -> bytes:
    return _struct.pack("<d", x)


def _retired_holt_blocked(df, key_col, order_col, value_col,
                          alpha, gamma, block_len, max_blocks):
    """Verbatim re-implementation of the round-11 holt_blocked
    (the 6-field per-element struct fold this round retired)."""
    from hdfe_spark.operators.stats import (
        _blocked_compose,
        _blocked_series,
        _dup_order_guard,
    )

    A, G = F.lit(float(alpha)), F.lit(float(gamma))
    nA, nG = F.lit(1.0 - float(alpha)), F.lit(1.0 - float(gamma))
    blocks = _blocked_series(
        df, key_col, order_col, value_col, "holt_blocked",
        block_len, max_blocks,
    ).filter(F.col("n") >= 2)
    vals = F.col("_bs").getField("__v")
    is0 = F.col("__blk") == F.lit(0)
    v1, v2 = F.element_at(vals, 1), F.element_at(vals, 2)
    zero, one = F.lit(0.0), F.lit(1.0)

    def mk(m11, m12, m21, m22, c1, c2):
        return F.struct(
            m11.alias("m11"), m12.alias("m12"),
            m21.alias("m21"), m22.alias("m22"),
            c1.alias("c1"), c2.alias("c2"),
        )

    l2 = A * v2 + nA * (v1 + (v2 - v1))
    b2 = G * ((A * v2 + nA * (v1 + (v2 - v1))) - v1) + nG * (v2 - v1)
    init = F.when(is0, mk(zero, zero, zero, zero, l2, b2)).otherwise(
        mk(one, zero, zero, one, zero, zero)
    )
    body = F.when(
        is0, F.slice(vals, 3, F.greatest(F.size(vals) - 2, F.lit(0)))
    ).otherwise(vals)

    def step(acc, x):
        r11 = nA * (acc["m11"] + acc["m21"])
        r12 = nA * (acc["m12"] + acc["m22"])
        nc1 = nA * (acc["c1"] + acc["c2"]) + A * x
        return mk(
            r11,
            r12,
            G * (r11 - acc["m11"]) + nG * acc["m21"],
            G * (r12 - acc["m12"]) + nG * acc["m22"],
            nc1,
            G * (nc1 - acc["c1"]) + nG * acc["c2"],
        )

    map_expr = F.aggregate(body, init, step)

    def compose(acc, m):
        return mk(
            m["m11"] * acc["m11"] + m["m12"] * acc["m21"],
            m["m11"] * acc["m12"] + m["m12"] * acc["m22"],
            m["m21"] * acc["m11"] + m["m22"] * acc["m21"],
            m["m21"] * acc["m12"] + m["m22"] * acc["m22"],
            m["m11"] * acc["c1"] + m["m12"] * acc["c2"] + m["c1"],
            m["m21"] * acc["c1"] + m["m22"] * acc["c2"] + m["c2"],
        )

    staged = _blocked_compose(blocks, key_col, map_expr, compose)
    level = _dup_order_guard("holt_blocked", key_col, F.col("_f")["c1"])
    trend = _dup_order_guard("holt_blocked", key_col, F.col("_f")["c2"])
    return staged.select(
        key_col, "n", level.alias("level"), trend.alias("trend"),
        (level + trend).alias("forecast"),
    )


@pytest.mark.parametrize("alpha,gamma", [(0.3, 0.2), (0.5, 0.5), (0.9, 0.05)])
def test_holt_blocked_bit_identical_to_retired_fold(spark, alpha, gamma):
    # multi-block, multi-key, irregular lengths (last block short,
    # one key exactly one block, one key a 2-row edge)
    from hdfe_spark.operators.stats import holt_blocked

    rows = []
    for k, n in [("a", 100), ("b", 16), ("c", 2), ("d", 49)]:
        for t in range(n):
            # deterministic non-dyadic series, key-decorrelated
            v = math.sin(0.7 * t + hash(k) % 97) * 10 + t * 0.3
            rows.append((k, t, v))
    df = spark.createDataFrame(rows, ["k", "t", "v"]).repartition(8)

    new = {
        r["k"]: r
        for r in holt_blocked(
            df, "k", "t", "v", alpha, gamma,
            block_len=16, max_blocks=100,
        ).collect()
    }
    old = {
        r["k"]: r
        for r in _retired_holt_blocked(
            df, "k", "t", "v", alpha, gamma, 16, 100
        ).collect()
    }
    assert set(new) == set(old) == {"a", "b", "c", "d"}
    for k in new:
        for fld in ("level", "trend", "forecast"):
            assert _bits(new[k][fld]) == _bits(old[k][fld]), (
                k, fld, new[k][fld], old[k][fld]
            )


def test_holt_linear_maps_replays_inplan_matrix_fold(spark):
    # the driver replay must produce the same bits as an actual
    # in-plan interpreted fold of the retired matrix recurrence
    from hdfe_spark.operators.stats import _holt_linear_maps

    alpha, gamma = 0.37, 0.21
    n = 23
    tbl = {r[0]: r[1:] for r in _holt_linear_maps(alpha, gamma, [n])}
    A, G = float(alpha), float(gamma)
    nA, nG = F.lit(1.0 - A), F.lit(1.0 - G)
    Gl = F.lit(G)

    def step(acc, x):
        r11 = nA * (acc["m11"] + acc["m21"])
        r12 = nA * (acc["m12"] + acc["m22"])
        return F.struct(
            r11.alias("m11"),
            r12.alias("m12"),
            (Gl * (r11 - acc["m11"]) + nG * acc["m21"]).alias("m21"),
            (Gl * (r12 - acc["m12"]) + nG * acc["m22"]).alias("m22"),
        )

    init = F.struct(
        F.lit(1.0).alias("m11"), F.lit(0.0).alias("m12"),
        F.lit(0.0).alias("m21"), F.lit(1.0).alias("m22"),
    )
    row = (
        spark.range(1)
        .select(
            F.aggregate(
                F.array(*[F.lit(0.0)] * n), init, step
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    got = (row["m11"], row["m12"], row["m21"], row["m22"])
    want = tbl[n]
    assert all(_bits(a) == _bits(b) for a, b in zip(got, want)), (
        got, want
    )


def test_holt_blocked_plan_has_broadcast_map_table(spark):
    # the len->M table must ride a broadcast join, never a shuffle
    from hdfe_spark.operators.stats import holt_blocked

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(40)], ["k", "t", "v"]
    )
    plan = (
        holt_blocked(df, "k", "t", "v", 0.3, 0.2, block_len=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ---------------- holt_winters_blocked (VERDICT r11 item 5) ----------------


def _hw_fixture(spark, keys, m=4):
    rows = []
    for k, n in keys:
        for t in range(n):
            v = (
                10.0
                + 0.05 * t
                + 2.0 * math.sin(2 * math.pi * (t % m) / m)
                + 0.3 * math.sin(1.3 * t + hash(k) % 31)
            )
            rows.append((k, t, v))
    return spark.createDataFrame(rows, ["k", "t", "v"]).repartition(8)


def test_hw_blocked_single_block_bit_identical(spark):
    from hdfe_spark.operators.stats import holt_winters, holt_winters_blocked

    df = _hw_fixture(spark, [("a", 60), ("b", 8), ("c", 31)], m=4)
    seq = {
        r["k"]: r
        for r in holt_winters(
            df, "k", "t", "v", 4, 0.3, 0.2, 0.25
        ).collect()
    }
    blk = {
        r["k"]: r
        for r in holt_winters_blocked(
            df, "k", "t", "v", 4, 0.3, 0.2, 0.25,
            block_len=64, max_blocks=10,
        ).collect()
    }
    assert set(seq) == set(blk) == {"a", "b", "c"}
    for k in seq:
        for fld in ("level", "trend", "season", "forecast"):
            assert _bits(seq[k][fld]) == _bits(blk[k][fld]), (
                k, fld, seq[k][fld], blk[k][fld]
            )


def test_hw_blocked_multiblock_matches_sequential(spark):
    from hdfe_spark.operators.stats import holt_winters, holt_winters_blocked

    df = _hw_fixture(spark, [("a", 500), ("b", 129), ("c", 16)], m=4)
    seq = {
        r["k"]: r
        for r in holt_winters(
            df, "k", "t", "v", 4, 0.3, 0.2, 0.25
        ).collect()
    }
    blk = {
        r["k"]: r
        for r in holt_winters_blocked(
            df, "k", "t", "v", 4, 0.3, 0.2, 0.25,
            block_len=64, max_blocks=20,
        ).collect()
    }
    assert set(seq) == set(blk)
    for k in seq:
        assert blk[k]["n"] == seq[k]["n"]
        for fld in ("level", "trend", "season", "forecast"):
            s, b = seq[k][fld], blk[k][fld]
            assert abs(s - b) <= 1e-9 * max(1.0, abs(s)), (k, fld, s, b)


def test_hw_blocked_constant_series_exact(spark):
    # dyadic constant, dyadic params: every IEEE step exact ->
    # level == c, trend == 0, season == 0 across blocks
    from hdfe_spark.operators.stats import holt_winters_blocked

    c = 3.1416015625
    df = spark.createDataFrame(
        [("a", t, c) for t in range(300)], ["k", "t", "v"]
    )
    row = holt_winters_blocked(
        df, "k", "t", "v", 4, 0.5, 0.5, 0.5,
        block_len=64, max_blocks=10,
    ).collect()[0]
    assert abs(row["level"] - c) / c < 1e-12
    assert abs(row["trend"]) < 1e-9
    assert abs(row["season"]) < 1e-9


def test_hw_blocked_guards(spark):
    from hdfe_spark.operators.stats import holt_winters_blocked

    df = spark.createDataFrame(
        [("a", t, float(t)) for t in range(30)], ["k", "t", "v"]
    )
    with pytest.raises(ValueError, match="block_len must be >= 2"):
        holt_winters_blocked(
            df, "k", "t", "v", 12, 0.3, 0.2, 0.25, block_len=16
        )
    with pytest.raises(ValueError, match="period must be <= 24"):
        holt_winters_blocked(df, "k", "t", "v", 25, 0.3, 0.2, 0.25)
    with pytest.raises(ValueError, match="period must be >= 2"):
        holt_winters_blocked(df, "k", "t", "v", 1, 0.3, 0.2, 0.25)
    # n < 2*period keys are dropped, not raised
    short = holt_winters_blocked(
        df.filter(F.col("t") < 7), "k", "t", "v", 4, 0.3, 0.2, 0.25
    )
    assert short.count() == 0


def test_hw_blocked_period24_compiles_and_runs(spark):
    # the envelope boundary: K = 26, K^2 = 676 unrolled compose
    from hdfe_spark.operators.stats import holt_winters, holt_winters_blocked

    df = _hw_fixture(spark, [("a", 120)], m=24)
    blk = holt_winters_blocked(
        df, "k", "t", "v", 24, 0.3, 0.2, 0.25,
        block_len=50, max_blocks=10,
    ).collect()[0]
    seq = holt_winters(df, "k", "t", "v", 24, 0.3, 0.2, 0.25).collect()[0]
    for fld in ("level", "trend", "season", "forecast"):
        s, b = seq[fld], blk[fld]
        assert abs(s - b) <= 1e-9 * max(1.0, abs(s)), (fld, s, b)


def test_hw_linear_maps_identity_consistency():
    # M(1) must equal one application of T to the identity basis
    from hdfe_spark.operators.stats import _hw_linear_maps

    m, A, G, D = 3, 0.3, 0.2, 0.25
    K = m + 2
    got = _hw_linear_maps(A, G, D, m, [1])[1]
    nA, nG, nD = 1 - A, 1 - G, 1 - D
    # basis j=0 is l: l'=nA*l, b'=G*(nA*l - l)+0, ring shifts, s_new=-D*l'
    assert _bits(got[0 * K + 0]) == _bits(nA * (1.0 + 0.0))
    assert _bits(got[1 * K + 0]) == _bits(G * (nA * 1.0 - 1.0) + nG * 0.0)
    # basis j=2 is s_1: l' = A*(0-1)+0
    assert _bits(got[0 * K + 2]) == _bits(A * (0.0 - 1.0) + nA * 0.0)
    # ring shift: new s_1 (row 2) = old s_2 (basis 3)
    assert got[2 * K + 3] == 1.0


# ------- rank kernel: one bounded plan for every group (hot, NULL, small) -------


def test_rank_by_family_matches_globals_on_hot_null_and_small_groups(spark):
    # one hot group with thousands of distinct cells, a NULL group and
    # two small groups: every `_by` form equals its global on each
    # group's filter, and the only Window in any executed plan is the
    # prefix sum's partition-local one (PARTITION BY __pid) — no
    # group runs in one task
    import random

    from hdfe_spark.operators.stats import (
        auc_by,
        auc_score,
        gini,
        gini_by,
        ks_2sample,
        ks_by,
        mann_whitney_by,
        mann_whitney_u,
        spearman_by,
        spearman_corr,
    )

    rng = random.Random(18)
    rows = []
    for g, n, card in (("hot", 6000, 4000), (None, 300, 40), ("s1", 40, 9),
                       ("s2", 25, 25)):
        for _ in range(n):
            v = float(rng.randrange(card)) / 4
            side = "A" if rng.random() < 0.5 else "B"
            rows.append((g, v, int(side == "A"), side,
                         v + rng.randrange(5) if rng.random() < 0.7 else -v))
    df = spark.createDataFrame(
        rows, "g string, v double, y long, side string, w double"
    ).cache()
    keys = ["hot", None, "s1", "s2"]

    def one(d, g):
        return d.filter(F.col("g").isNull() if g is None else F.col("g") == g)

    def by_group(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        windows = [ln for ln in plan.splitlines() if "Window [" in ln]
        assert windows and all("__pid" in ln for ln in windows), windows
        got = {r["g"]: r for r in out.collect()}
        assert set(got) == set(keys)
        return got

    approx = lambda x: pytest.approx(x, rel=1e-12, abs=1e-15)  # noqa: E731
    auc = by_group(auc_by(df, "g", "y", "v"))
    mw = by_group(mann_whitney_by(df, "g", "side", "v", "A", "B"))
    ks = by_group(ks_by(df, "g", "side", "v", "A", "B"))
    rho = by_group(spearman_by(df, "g", "v", "w"))
    gi = by_group(gini_by(df, "g", "v"))
    for g in keys:
        sub = one(df, g)
        want = auc_score(sub, "y", "v").collect()[0]
        assert (auc[g]["n_pos"], auc[g]["n_neg"]) == (want["n_pos"], want["n_neg"])
        assert auc[g]["auc"] == approx(want["auc"]), g
        want = mann_whitney_u(sub, "side", "v", "A", "B").collect()[0]
        assert (mw[g]["n_a"], mw[g]["n_b"]) == (want["n_a"], want["n_b"])
        assert mw[g]["u2_a"] == 2 * want["u_a"] and mw[g]["z"] == approx(want["z"]), g
        want = ks_2sample(sub, "side", "v", "A", "B").collect()[0]
        assert tuple(ks[g][k] for k in ("n_a", "n_b", "d_num", "d")) == tuple(
            want[k] for k in ("n_a", "n_b", "d_num", "d")
        ), g
        want = spearman_corr(sub, "v", "w").collect()[0]
        assert rho[g]["n"] == want["n"] and rho[g]["rho"] == approx(want["rho"]), g
        want = gini(sub, "v").collect()[0]
        assert gi[g]["n"] == want["n"] and gi[g]["gini"] == approx(want["gini"]), g
    df.unpersist()


# ---------------- /code-review round-12 findings, pinned ----------------


def test_review_r12_quote_ident_completes_sweep(spark):
    # interval_overlap_join's representative predicate and psi's
    # breakpoint percentile both take non-identifier column names now
    from hdfe_spark.operators.rangejoin import interval_overlap_join
    from hdfe_spark.operators.validate import psi_drift

    left = spark.createDataFrame(
        [(1, 0, 10), (1, 20, 30)], ["id", "s col", "e col"]
    )
    right = spark.createDataFrame(
        [(1, 5, 25)], ["id", "s col", "e col"]
    )
    got = interval_overlap_join(
        left, right.withColumnRenamed("s col", "rs")
        .withColumnRenamed("e col", "re"),
        ["id"], "s col", "e col", "rs", "re", bucket_width=8,
    ).count()
    assert got == 2  # both left intervals overlap [5, 25)

    a = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], ["the-value"]
    )
    b = spark.createDataFrame(
        [(float((i * 7) % 50),) for i in range(500)], ["the-value"]
    )
    rows = psi_drift(a, b, "the-value", bins=5).collect()
    assert len(rows) == 5


def test_review_r12_certificate_validates_inputs(spark):
    from hdfe_spark.operators.rank import (
        grouped_quantiles_approx_certificate,
    )

    df = spark.createDataFrame([("a", 1.0)], ["g", "v"])
    with pytest.raises(ValueError, match="non-empty"):
        grouped_quantiles_approx_certificate(df, "g", "v", probs=[])
    with pytest.raises(ValueError, match="accuracy"):
        grouped_quantiles_approx_certificate(df, "g", "v", accuracy=0)
    with pytest.raises(ValueError, match="non-empty"):
        grouped_quantiles_approx_certificate(df, "g", "v", probs=[1.5])


def test_review_r12_collision_guards_cover_cell_and_blocked_family(spark):
    from hdfe_spark.operators.stats import (
        auc_by,
        cusum_blocked,
        ewma_blocked,
        gini_by,
        holt_blocked,
        holt_winters_blocked,
        spearman_by,
    )

    df = spark.createDataFrame([("a", 1, 1.0)], ["g", "t", "v"])
    cases = [
        lambda d: auc_by(d, "auc", "t", "v"),
        lambda d: spearman_by(d, "rho", "t", "v"),
        lambda d: gini_by(d, "gini", "v"),
        lambda d: ewma_blocked(d, "ewma", "t", "v", 0.3),
        lambda d: ewma_blocked(d, "n", "t", "v", 0.3),
        lambda d: cusum_blocked(d, "cusum", "t", "v", 0.0),
        lambda d: holt_blocked(d, "level", "t", "v", 0.3, 0.2),
        lambda d: holt_winters_blocked(
            d, "n", "t", "v", 4, 0.3, 0.2, 0.25
        ),
    ]
    for i, case in enumerate(cases):
        bad = df.withColumnRenamed(
            "g",
            ["auc", "rho", "gini", "ewma", "n", "cusum", "level", "n"][i],
        )
        with pytest.raises(ValueError, match="collides with a fixed"):
            case(bad)


def test_winsorize_by_approx_route(spark):
    # the bounded-memory cut path the routing note promised: approx
    # cuts clamp like the exact path (identical here because the
    # sketch is exact at this size), and bad accuracy fails loud
    from hdfe_spark.operators.stats import winsorize_by

    df = spark.createDataFrame(
        [("g%d" % (i % 2), float(i)) for i in range(200)], ["g", "v"]
    )
    exact = sorted(
        (r["g"], r["w"])
        for r in winsorize_by(df, "g", "v", 0.1, 0.9).collect()
    )
    approx = sorted(
        (r["g"], r["w"])
        for r in winsorize_by(
            df, "g", "v", 0.1, 0.9, accuracy=100_000
        ).collect()
    )
    assert len(exact) == len(approx) == 200
    # high-accuracy sketch on 100 values/group: cuts within one
    # neighbor value of exact -> every clamp within 2.0 of exact
    for (g1, w1), (g2, w2) in zip(exact, approx):
        assert g1 == g2 and abs(w1 - w2) <= 2.0
    with pytest.raises(ValueError, match="accuracy"):
        winsorize_by(df, "g", "v", accuracy=0)


# -------- mann_whitney_by / bh_fdr (experimentation panel completion) -------


def _mw_reference(pairs):
    """Pure-Python Mann-Whitney with average-tie ranks: pairs =
    [(side, value)] -> (n_a, n_b, 2*U_a, z or None)."""
    vals = sorted(v for _, v in pairs)
    # average rank per value, doubled to stay integral
    from collections import Counter

    cnt = Counter(vals)
    r2 = {}
    before = 0
    for v in sorted(cnt):
        c = cnt[v]
        r2[v] = 2 * before + c + 1  # 2 * average rank
        before += c
    n_a = sum(1 for s, _ in pairs if s == "A")
    n_b = len(pairs) - n_a
    r2a = sum(r2[v] for s, v in pairs if s == "A")
    u2 = r2a - n_a * (n_a + 1)
    n = n_a + n_b
    t3 = sum(c**3 - c for c in cnt.values())
    if n_a == 0 or n_b == 0 or n < 2:
        return n_a, n_b, u2, None
    var = n_a * n_b / 12.0 * ((n + 1.0) - t3 / (n * (n - 1.0)))
    if var <= 0:
        return n_a, n_b, u2, None
    z = (u2 - n_a * n_b) / (2.0 * math.sqrt(var))
    return n_a, n_b, u2, z


def test_mann_whitney_by_matches_reference(spark):
    from hdfe_spark.operators.stats import mann_whitney_by

    rows, ref = [], {}
    fixtures = {
        "g1": [("A", float(i % 7)) for i in range(30)]
        + [("B", float(i % 5) + 1.5) for i in range(25)],
        "g2": [("A", 1.0), ("B", 2.0), ("A", 3.0), ("B", 2.0)],
        "tied": [("A", 5.0)] * 10 + [("B", 5.0)] * 10,  # var=0 -> NULL z
        "thin": [("A", 1.0), ("A", 2.0)],  # empty B arm -> NULL z
    }
    for g, pairs in fixtures.items():
        ref[g] = _mw_reference(pairs)
        rows += [(g, s, v) for s, v in pairs]
    df = spark.createDataFrame(rows, ["g", "side", "v"]).repartition(8)
    got = {
        r["g"]: r
        for r in mann_whitney_by(df, "g", "side", "v", "A", "B").collect()
    }
    assert set(got) == set(ref)
    for g, (na, nb, u2, z) in ref.items():
        assert got[g]["n_a"] == na and got[g]["n_b"] == nb, g
        assert got[g]["u2_a"] == float(u2), g
        if z is None:
            assert got[g]["z"] is None, g
        else:
            assert abs(got[g]["z"] - z) < 1e-12, (g, got[g]["z"], z)


def test_mann_whitney_by_guards(spark):
    from hdfe_spark.operators.stats import mann_whitney_by

    df = spark.createDataFrame(
        [("g", "A", float(i)) for i in range(50)]
        + [("g", "B", float(i) + 0.5) for i in range(50)],
        ["g", "side", "v"],
    )
    with pytest.raises(ValueError, match="collides with a fixed"):
        mann_whitney_by(df.withColumnRenamed("g", "z"),
                        "z", "side", "v", "A", "B")


def _bh_reference(ps, q):
    m = len(ps)
    order = sorted(range(m), key=lambda i: ps[i])
    k = 0
    for rank, idx in enumerate(order, 1):
        if ps[idx] <= rank * q / m:
            k = rank
    rejected = set(order[:k])
    return rejected


def test_bh_fdr_matches_reference(spark):
    from hdfe_spark.operators.stats import bh_fdr

    ps = [((i * 7919) % 1000) / 1000.0 * ((i * 7919) % 1000) / 1000.0
          for i in range(500)]
    ref = _bh_reference(ps, 0.1)
    df = spark.createDataFrame(
        [(i, ps[i]) for i in range(500)], ["id", "p"]
    ).repartition(8)
    got = {r["id"]: r for r in bh_fdr(df, "p", ["id"], q=0.1).collect()}
    assert len(got) == 500
    rej = {i for i, r in got.items() if r["rejected"]}
    assert rej == ref and len(ref) > 0
    # ranks are the ascending-p total order
    by_rank = sorted(got.values(), key=lambda r: r["rank"])
    assert [r["rank"] for r in by_rank] == list(range(1, 501))
    assert all(
        by_rank[i]["p"] <= by_rank[i + 1]["p"] for i in range(499)
    )


def test_bh_fdr_guards(spark):
    from hdfe_spark.operators.stats import bh_fdr

    df = spark.createDataFrame([(1, 0.5)], ["id", "p"])
    with pytest.raises(ValueError, match="q must be"):
        bh_fdr(df, "p", ["id"], q=1.5)
    bad = spark.createDataFrame([(1, 1.5)], ["id", "p"])
    with pytest.raises(Exception, match="outside"):
        bh_fdr(bad, "p", ["id"]).collect()
    # NULL p rows are excluded, all-NULL input -> empty with schema
    nul = spark.createDataFrame([(1, None)], "id int, p double")
    assert bh_fdr(nul, "p", ["id"]).count() == 0


def test_review_r12b_same_label_and_str_tiebreak(spark):
    # review r12b: a_label == b_label double-counts one arm into
    # both (z=0 reads as "no effect") — all three two-arm operators
    # raise; bh_fdr accepts a bare-string tiebreak by wrapping
    from hdfe_spark.operators.stats import (
        bh_fdr,
        ks_by,
        mann_whitney_by,
        welch_by,
    )

    df = spark.createDataFrame(
        [("g", "A", float(i)) for i in range(6)]
        + [("g", "B", float(i) + 0.5) for i in range(6)],
        ["g", "side", "v"],
    )
    for op in (welch_by, ks_by, mann_whitney_by):
        with pytest.raises(ValueError, match="same value"):
            op(df, "g", "side", "v", "A", "A")

    pdf = spark.createDataFrame(
        [(i, ((i * 13) % 7) / 7.0) for i in range(20)], ["id", "p"]
    )
    a = sorted(
        (r["id"], r["rank"], r["rejected"])
        for r in bh_fdr(pdf, "p", "id", q=0.2).collect()
    )
    b = sorted(
        (r["id"], r["rank"], r["rejected"])
        for r in bh_fdr(pdf, "p", ["id"], q=0.2).collect()
    )
    assert a == b and len(a) == 20
