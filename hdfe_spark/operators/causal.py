"""Design-based causal estimators: difference-in-differences and the
event-study generalization.

Beyond-reference surface on the reference's estimation theme
(``hdfe/hdfe.py:49-181``): the 2×2 DiD ATT is algebraically the
interaction coefficient of the saturated OLS
``y ~ 1 + treat + post + treat·post`` (pinned in tests against
``estimate``), but computing it as a difference of four conditional
means needs ONE map-side-combined aggregation — no Gram, no solve, no
shuffle wider than a single-row reduce. The event study is the same
contrast per period: one grouped aggregation on the period column,
one collected 2-scalar base row folded back as literals (the
``ks_2sample``/``bh_fdr`` precedent), never a join or a global sort —
at 100 TB the only shuffle is the period-keyed aggregate with
map-side partials, and only n_periods rows exist downstream of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdfe_spark.operators._guards import no_output_collision
from hdfe_spark.operators.collinearity import _moment_cells, _sym_from_row


def _clipped_propensity(propensity: str, clip: float):
    """Overlap-trimmed propensity column, NULL-safe (shared by
    `ipw_ate` and `aipw_ate`). Spark's greatest/least SKIP NULLs, so
    a bare clip would resurrect a missing propensity as the clip
    bound (weight 1/clip — the most extreme weight possible); here a
    NULL propensity stays NULL and its row drops from the estimating
    sample."""
    e_raw = F.col(propensity)
    if clip <= 0:
        return e_raw
    return F.when(
        e_raw.isNotNull(),
        F.least(F.greatest(e_raw, F.lit(float(clip))),
                F.lit(1.0 - float(clip))),
    )


def did(df: DataFrame, y: str, treat: str, post: str) -> DataFrame:
    """2×2 difference-in-differences.

    ``treat`` and ``post`` are boolean columns; ``y`` the outcome.
    Returns ONE row: the four cell means, the four cell counts, and
    ``att = (m_treat_post − m_treat_pre) − (m_ctrl_post − m_ctrl_pre)``.
    An empty cell leaves its mean (and the ATT) NULL rather than
    guessing. Rows where ``treat``/``post`` is NULL belong to no
    cell, and rows with a NULL outcome belong to no mean: cell
    counts are ``count(when(cond, y))`` — non-NULL outcomes only —
    so a NULL y never dilutes its cell (the ``avg`` semantics).

    Means are computed as ``cast(sum, double) / count`` rather than
    ``avg`` so a DECIMAL outcome column keeps its sum EXACT (one IEEE
    division per cell) — the engine's cross-engine determinism
    discipline; a double outcome behaves like ``avg``.
    """
    t, p = F.col(treat), F.col(post)
    cells = {
        "treat_post": t & p,
        "treat_pre": t & ~p,
        "ctrl_post": ~t & p,
        "ctrl_pre": ~t & ~p,
    }
    yv = F.col(y)
    agg = df.agg(
        *[
            F.sum(F.when(c, yv)).cast("double").alias(f"s_{k}")
            for k, c in cells.items()
        ],
        *[
            F.count(F.when(c, yv)).alias(f"n_{k}")
            for k, c in cells.items()
        ],
    ).select(
        *[
            F.when(
                F.col(f"n_{k}") > 0, F.col(f"s_{k}") / F.col(f"n_{k}")
            ).alias(f"m_{k}")
            for k in cells
        ],
        *[F.col(f"n_{k}") for k in cells],
    )
    return agg.select(
        (
            (F.col("m_treat_post") - F.col("m_treat_pre"))
            - (F.col("m_ctrl_post") - F.col("m_ctrl_pre"))
        ).alias("att"),
        *[F.col(f"m_{k}") for k in cells],
        *[F.col(f"n_{k}") for k in cells],
    )


def event_study(
    df: DataFrame, y: str, treat: str, period: str, base_period
) -> DataFrame:
    """Event-study (dynamic DiD): the DiD contrast of every period
    against ``base_period``.

    One aggregation grouped on ``period`` computes the per-period
    treated/control means and counts; the base period's two means are
    collected (two scalars) and folded back as literals, so
    ``att = (m_t(k) − m_t(base)) − (m_c(k) − m_c(base))`` is a narrow
    projection over n_periods rows. The per-period table feeds two
    actions (the base collect and the caller's), so it is
    localCheckpoint'd — the full-data aggregation runs ONCE (the
    ``estimate.fe_agg`` precedent). The base period's own row is kept
    (its att is 0 by construction — the standard normalization).
    Raises if the base period is absent or has an empty arm: a silent
    NULL baseline would NULL every coefficient.
    """
    no_output_collision(
        "event_study", "period", period,
        ["att", "m_treat", "m_ctrl", "n_treat", "n_ctrl"],
    )
    t, yv = F.col(treat), F.col(y)
    per = df.groupBy(F.col(period)).agg(
        F.sum(F.when(t, yv)).cast("double").alias("s_treat"),
        F.sum(F.when(~t, yv)).cast("double").alias("s_ctrl"),
        F.count(F.when(t, yv)).alias("n_treat"),
        F.count(F.when(~t, yv)).alias("n_ctrl"),
    ).select(
        F.col(period),
        F.when(F.col("n_treat") > 0, F.col("s_treat") / F.col("n_treat"))
        .alias("m_treat"),
        F.when(F.col("n_ctrl") > 0, F.col("s_ctrl") / F.col("n_ctrl"))
        .alias("m_ctrl"),
        "n_treat", "n_ctrl",
    ).localCheckpoint(eager=False)
    base = per.where(F.col(period) == F.lit(base_period)).collect()
    if not base:
        raise ValueError(
            f"event_study: base_period {base_period!r} has no rows"
        )
    b = base[0]
    if b["m_treat"] is None or b["m_ctrl"] is None:
        raise ValueError(
            f"event_study: base_period {base_period!r} has an empty"
            " treated or control arm — pick a base with both"
        )
    return per.select(
        F.col(period),
        (
            (F.col("m_treat") - F.lit(float(b["m_treat"])))
            - (F.col("m_ctrl") - F.lit(float(b["m_ctrl"])))
        ).alias("att"),
        "m_treat", "m_ctrl", "n_treat", "n_ctrl",
    )


def ipw_ate(
    df: DataFrame,
    y: str,
    treat: str,
    propensity: str,
    clip: float = 0.01,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect for a
    KNOWN/estimated propensity column (the design-based step after
    any propensity model — this operator does not fit one).

    Hájek (self-normalizing) estimator:
    ``ate = Σ t·y/ê / Σ t/ê − Σ (1−t)·y/(1−ê) / Σ (1−t)/(1−ê)``
    with ``ê`` clipped into [clip, 1−clip] (the standard overlap
    trim; clip=0 disables). One map-side-combined aggregation — four
    weighted sums and two counts, a single reduced row, no shuffle
    wider than the final 1-row reduce. Emits the two Hájek arm means,
    the ATE, effective sample sizes ``(Σw)²/Σw²`` per arm (Kish), and
    arm counts. Rows with a NULL treat/propensity/outcome contribute
    nothing — the Hájek denominator sums weights only over rows with
    an OBSERVED outcome, so missing outcomes never dilute an arm.
    """
    t = F.col(treat)
    e = _clipped_propensity(propensity, clip)
    yv = F.col(y)
    w1 = F.when(t & yv.isNotNull(), F.lit(1.0) / e)
    w0 = F.when(~t & yv.isNotNull(), F.lit(1.0) / (F.lit(1.0) - e))
    agg = df.agg(
        F.sum(w1 * yv).alias("s1"),
        F.sum(w1).alias("sw1"),
        F.sum(w1 * w1).alias("sww1"),
        F.sum(w0 * yv).alias("s0"),
        F.sum(w0).alias("sw0"),
        F.sum(w0 * w0).alias("sww0"),
        # count the ESTIMATING sample: rows whose weight is non-NULL
        # (excludes NULL treat/outcome/propensity alike), so n_* always
        # agrees with the rows inside the Hájek sums (review r12).
        F.count(w1).alias("n_treat"),
        F.count(w0).alias("n_ctrl"),
    )
    return agg.select(
        (F.col("s1") / F.col("sw1") - F.col("s0") / F.col("sw0"))
        .alias("ate"),
        (F.col("s1") / F.col("sw1")).alias("m_treat_w"),
        (F.col("s0") / F.col("sw0")).alias("m_ctrl_w"),
        (F.col("sw1") * F.col("sw1") / F.col("sww1")).alias("ess_treat"),
        (F.col("sw0") * F.col("sw0") / F.col("sww0")).alias("ess_ctrl"),
        "n_treat", "n_ctrl",
    )


def rdd(
    df: DataFrame,
    y: str,
    running: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-discontinuity estimate: local-linear fits
    with a rectangular kernel on each side of the cutoff, effect =
    the jump between the two intercepts AT the cutoff.

    Within ``|running − cutoff| < bandwidth`` (the cutoff row itself
    belongs to the treated/right side, the ≥-rule convention), each
    side's fit is the closed-form simple regression on the centered
    running variable x = running − cutoff:
    ``b = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)``,
    ``a = ȳ − b·x̄`` — so ONE aggregation with per-side conditional
    sums feeds a pure-expression finish; no solver, no second pass,
    no shuffle beyond the 1-row reduce. Emits the effect (a_r −
    a_l), both intercepts and slopes, and per-side counts; a side
    with < 2 distinct x values yields NULLs rather than a made-up
    fit (zero-variance denominator). Rows with a NULL outcome or
    running value contribute to neither side's fit nor its count.
    """
    x = F.col(running) - F.lit(float(cutoff))
    inside = F.abs(x) < F.lit(float(bandwidth))
    yv = F.col(y)
    right = inside & (x >= 0) & yv.isNotNull()
    left = inside & (x < 0) & yv.isNotNull()

    def _side(cond, tag):
        return [
            F.count(F.when(cond, F.lit(1))).alias(f"n_{tag}"),
            F.sum(F.when(cond, x)).alias(f"sx_{tag}"),
            F.sum(F.when(cond, yv)).alias(f"sy_{tag}"),
            F.sum(F.when(cond, x * x)).alias(f"sxx_{tag}"),
            F.sum(F.when(cond, x * yv)).alias(f"sxy_{tag}"),
        ]

    agg = df.agg(*_side(left, "l"), *_side(right, "r"))

    def _fit(tag):
        n = F.col(f"n_{tag}").cast("double")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        sxx, sxy = F.col(f"sxx_{tag}"), F.col(f"sxy_{tag}")
        den = n * sxx - sx * sx
        b = F.when(den > 0, (n * sxy - sx * sy) / den)
        a = sy / n - b * (sx / n)
        return a.alias(f"a_{tag}"), b.alias(f"b_{tag}")

    a_l, b_l = _fit("l")
    a_r, b_r = _fit("r")
    fitted = agg.select(
        a_l, b_l, a_r, b_r,
        F.col("n_l").alias("n_left"), F.col("n_r").alias("n_right"),
    )
    return fitted.select(
        (F.col("a_r") - F.col("a_l")).alias("effect"),
        F.col("a_l").alias("intercept_left"),
        F.col("a_r").alias("intercept_right"),
        F.col("b_l").alias("slope_left"),
        F.col("b_r").alias("slope_right"),
        "n_left", "n_right",
    )


def aipw_ate(
    df: DataFrame,
    y: str,
    treat: str,
    propensity: str,
    mu1: str,
    mu0: str,
    clip: float = 0.01,
) -> DataFrame:
    """Doubly-robust AIPW average treatment effect for KNOWN
    propensity and outcome-model columns (``mu1``/``mu0`` = any
    model's predicted outcome under treatment/control — this
    operator fits neither model; consistent if EITHER model is
    right).

    Per-row influence contribution
    ``ψ = μ₁ − μ₀ + t·(y − μ₁)/ê − (1−t)·(y − μ₀)/(1−ê)`` with the
    same NULL-safe overlap clip as `ipw_ate`; the ATE is the ψ mean
    and the plug-in standard error is ``sqrt(Var(ψ)/n)`` — both from
    ONE aggregation (Σψ, Σψ², n), nothing but three doubles reaching
    the driver. Rows with a NULL in any ingredient drop from the
    estimating sample (and from n).
    """
    t = F.col(treat)
    e = _clipped_propensity(propensity, clip)
    yv, m1, m0 = F.col(y), F.col(mu1), F.col(mu0)
    complete = (
        t.isNotNull() & e.isNotNull() & yv.isNotNull()
        & m1.isNotNull() & m0.isNotNull()
    )
    correction = F.when(t, (yv - m1) / e).otherwise(
        -(yv - m0) / (F.lit(1.0) - e)
    )
    psi = F.when(complete, m1 - m0 + correction)
    agg = df.agg(
        F.sum(psi).alias("s"),
        F.sum(psi * psi).alias("ss"),
        F.count(psi).alias("n"),
    )
    n = F.col("n").cast("double")
    ate = F.col("s") / n
    return agg.select(
        F.when(F.col("n") > 0, ate).alias("ate"),
        F.when(
            F.col("n") > 1,
            F.sqrt(
                (F.col("ss") / n - ate * ate) / (n - F.lit(1.0))
            ),
        ).alias("se"),
        F.col("n").alias("n_used"),
    )


def _ri_multiplier(k: int, M: int) -> int:
    """Per-permutation LCG multiplier for `ri_pvalue`.

    Multipliers SCALED by the MINSTD constant: a small pk (the old
    2k+3) never wraps M over a dense low id range (ids 0..60k stay
    inside [qk, 60k·pk+qk] < M), so the "permuted" arm was ALL rows —
    degenerate for every early k (review r13). 48271·(2k+3) wraps M
    dozens of times at any realistic id density. Overflow headroom
    (ADVICE r13 corrected the old "pk < 1e7" note): pk grows linearly
    in k — ≈1.9e7 at k=198, ≈9.7e10 at k=1e6 — and rid < M ≈ 1e6, so
    rid·pk ≲ 1e17, inside int64 (9.2e18) on both engines for any
    sane n_perm.

    Guard (ADVICE r13): M is prime and coprime to 48271, so
    pk ≡ 0 (mod M) exactly when (2k+3) is a multiple of M — first at
    k = (M−3)/2 = 500000 for M = 1000003. A zero multiplier
    degenerates the permutation (every row lands in one arm → counted
    conservatively as a hit, diluting power); bump to the adjacent
    even multiplier, outside the odd family (no collision) and
    ≡ 48271 (mod M).
    """
    pk = 48271 * (2 * k + 3)
    if pk % M == 0:
        pk += 48271
    return pk


def ri_pvalue(
    df: DataFrame,
    y: str,
    treat: str,
    n_perm: int = 199,
    id_col: str | None = None,
    treat_frac: float | None = None,
) -> DataFrame:
    """Randomization-inference p-value for the difference in means:
    the observed effect's rank among ``n_perm`` PSEUDO-random
    re-assignments of treatment.

    Each permutation k reassigns ``treat' = ((id·Pₖ + Qₖ) mod M) <
    T`` with per-k odd multipliers from a fixed linear-congruential
    family — deterministic, engine-independent integer arithmetic
    (the cross-engine discipline: a seeded RNG would never match an
    oracle). The threshold ``T = ⌊M·n₁/(n₁+n₀)⌋`` is CALIBRATED to
    the observed treated fraction by one cheap count-only pre-pass
    (ADVICE r12: a fixed 50/50 threshold gives the permuted null the
    wrong variance under unbalanced designs — anti-conservative), so
    permutations re-randomize at the design's own assignment rate.
    ALL permuted effects then compute in ONE aggregation: 2·n_perm
    conditional sums + counts fused into a single map-side-combined
    pass, so the cost is two scans total regardless of n_perm — where
    the textbook implementation scans once per permutation.
    ``id_col=None`` uses a deterministic row fingerprint (xxhash64 of
    y — engine-specific, fine for Monte-Carlo use but NOT
    oracle-matchable; pass a real id column for cross-engine
    determinism).

    Returns one row: the observed difference, the two-sided p-value
    ``(1 + #{|effect_k| ≥ |observed|}) / (n_perm + 1)`` (the add-one
    convention — the observed assignment is itself one member of the
    randomization distribution), and n_perm. A permutation whose
    effect is undefined (an empty permuted arm, possible on tiny
    samples at extreme fractions) counts as a HIT — conservative,
    never silently shrinking p (ADVICE r12).
    """
    if n_perm < 1:
        raise ValueError("n_perm must be >= 1")
    t = F.col(treat)
    yv = F.col(y)
    rid_raw = (
        F.col(id_col).cast("long")
        if id_col is not None
        else F.xxhash64(yv)
    )
    M = 1_000_003  # prime modulus: fraction granularity ~1e-6
    # pmod twice: Spark's % keeps the dividend's sign (a negative
    # xxhash64 or id would otherwise ALWAYS land treated — a 75/25
    # skew), and bounding rid below M first keeps rid*pk far from
    # 64-bit overflow for any id magnitude.
    rid = F.pmod(rid_raw, F.lit(M))
    # ONE estimating sample for observed AND permuted effects: a row
    # with NULL treat/outcome/id is outside the randomization
    # distribution entirely (otherwise permuted effects would average
    # over a larger sample than the observed one — anti-conservative).
    valid = t.isNotNull() & yv.isNotNull() & rid_raw.isNotNull()
    # Calibration: the permuted assignment probability must match the
    # design's treated fraction. With ``treat_frac`` given (the KNOWN
    # design rate), the threshold folds with zero Spark jobs; with
    # None, a count-only pre-pass reads the observed fraction — NOTE
    # this runs EAGERLY at construction time (review r13: the
    # threshold must be a plan literal, so laziness is impossible;
    # callers building plans they never execute, or feeding a
    # non-deterministic df whose sample would differ between the two
    # scans, should pass treat_frac explicitly). Exact integer
    # threshold (M·n1)//(n1+n0) — both engines agree bit-for-bit.
    if treat_frac is not None:
        if not 0.0 < treat_frac < 1.0:
            raise ValueError("treat_frac must be in (0, 1)")
        half = int(M * treat_frac)
    else:
        cnt = df.agg(
            F.count(F.when(valid & t, 1)).alias("n1"),
            F.count(F.when(valid & ~t, 1)).alias("n0"),
        ).collect()[0]
        n1_obs, n0_obs = int(cnt["n1"]), int(cnt["n0"])
        total = n1_obs + n0_obs
        half = (M * n1_obs) // total if total > 0 else M // 2
    aggs = [
        F.sum(F.when(valid & t, yv)).cast("double").alias("s1"),
        F.count(F.when(valid & t, yv)).alias("n1"),
        F.sum(F.when(valid & ~t, yv)).cast("double").alias("s0"),
        F.count(F.when(valid & ~t, yv)).alias("n0"),
    ]
    for k in range(n_perm):
        pk = _ri_multiplier(k, M)
        qk = 7919 * (k + 1)
        tk = F.pmod(rid * pk + qk, F.lit(M)) < half
        aggs.append(
            F.sum(F.when(valid & tk, yv)).cast("double")
            .alias(f"ps1_{k}")
        )
        aggs.append(F.count(F.when(valid & tk, yv)).alias(f"pn1_{k}"))
        aggs.append(
            F.sum(F.when(valid & ~tk, yv)).cast("double")
            .alias(f"ps0_{k}")
        )
        aggs.append(F.count(F.when(valid & ~tk, yv)).alias(f"pn0_{k}"))
    agg = df.agg(*aggs)

    obs = F.when(
        (F.col("n1") > 0) & (F.col("n0") > 0),
        F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0"),
    )
    hits = F.lit(1)
    for k in range(n_perm):
        eff_k = (
            F.col(f"ps1_{k}") / F.col(f"pn1_{k}")
            - F.col(f"ps0_{k}") / F.col(f"pn0_{k}")
        )
        # NULL eff_k (an empty permuted arm) is a HIT: conservative —
        # an undefined permutation must never shrink p (ADVICE r12).
        hits = hits + F.when(
            eff_k.isNull() | (F.abs(eff_k) >= F.abs(obs)), F.lit(1)
        ).otherwise(F.lit(0))
    # Degenerate data (an empty arm) has no observed effect: report
    # NULL observed AND NULL p — never the floor p (which would read
    # as maximal significance).
    return agg.select(
        obs.alias("observed"),
        F.when(
            obs.isNotNull(),
            hits.cast("double") / F.lit(float(n_perm + 1)),
        ).alias("p_value"),
        F.lit(n_perm).cast("long").alias("n_perm"),
    )


import os as _os_mod

_DML_TREE2_CELLS_MAX = int(
    _os_mod.environ.get("HDFE_DML_TREE2_CELLS_MAX", 5_000_000)
)


def _fit_tree2_numpy(v, c, s):
    """Depth-2 regression tree from a sorted distinct-value cell
    table of one complement fold: ``v`` distinct feature values
    (ascending), ``c`` counts, ``s`` target sums (float64).

    Exact CART for squared error: the best split maximizes
    ``S_L²/n_L + S_R²/n_R`` (equivalently minimizes SSE); ties break
    to the SMALLEST threshold (the `best_split` total order, which a
    SQL oracle can replay — np.argmax returns the first maximum).
    Greedy root-then-children, the `tree_depth2` contract.

    Returns the ordered leaf list ``[(ub, mean), ..., (None, mean)]``
    evaluated as ``CASE WHEN x <= ub THEN mean ... ELSE last``; a
    side with a single distinct value stays one leaf.
    """
    import numpy as np

    n = float(c.sum())
    S = float(s.sum())
    if len(v) < 2:
        return [(None, S / n)]

    def best(vv, cc, ss):
        nn = float(cc.sum())
        SS = float(ss.sum())
        if len(vv) < 2:
            return None
        nl = np.cumsum(cc, dtype=np.float64)[:-1]
        sl = np.cumsum(ss, dtype=np.float64)[:-1]
        nr = nn - nl
        sr = SS - sl
        score = sl * sl / nl + sr * sr / nr
        i = int(np.argmax(score))
        return i, float(sl[i] / nl[i]), float(sr[i] / nr[i])

    i0, m_l, m_r = best(v, c, s)
    leaves = []
    for lo, hi, m_side in ((0, i0 + 1, m_l), (i0 + 1, len(v), m_r)):
        vv, cc, ss = v[lo:hi], c[lo:hi], s[lo:hi]
        child = best(vv, cc, ss)
        last_ub = vv[len(vv) - 1] if hi < len(v) else None
        if child is None:
            leaves.append((last_ub, m_side))
        else:
            j, mj_l, mj_r = child
            leaves.append((vv[j], mj_l))
            leaves.append((last_ub, mj_r))
    return leaves


def _tree2_residuals(base, fold, y, d, x_cols, n_folds, id_col):
    """Cross-fitted depth-2 regression-tree nuisances for `dml_plm`
    (VERDICT r13 item 5 — the flexible-learner completion of the
    residual-on-residual skeleton, which is learner-agnostic by
    design): per fold, per target (y and d), a greedy exact-CART
    depth-2 tree fit on the COMPLEMENT folds, with predictions
    folded back as a fold-keyed CASE chain of ≤4 leaf means.

    Scale: ONE full-data groupBy builds the (fold, value, count,
    Σy, Σd) distinct-value cell table; every complement aggregation,
    prefix sum, and split search then runs in numpy on the collected
    cells (the Plan-C level-space discipline). The collect is gated
    by a LIMIT at ``HDFE_DML_TREE2_CELLS_MAX`` (default 5M): exact
    CART's candidate set IS the distinct-value set, so a near-
    continuous feature at extreme scale must be binned/rounded first
    — the gate raises with that instruction rather than OOMing the
    driver. Returns the (ry, rv) residual column expressions.
    """
    import numpy as np
    import pandas as pd

    if len(x_cols) != 1:
        raise ValueError(
            "dml_plm: learner='tree2' supports exactly one x column"
            f" (got {len(x_cols)}) — trees on multi-feature designs"
            " need a split search per feature; bin or pick one"
        )
    xc = x_cols[0]
    cells = (
        base.groupBy(fold.alias("__f"), F.col(xc).alias("__v"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.col(y).cast("double")).alias("__sy"),
            F.sum(F.col(d).cast("double")).alias("__sd"),
        )
        .limit(_DML_TREE2_CELLS_MAX + 1)
        .toPandas()
    )
    if len(cells) > _DML_TREE2_CELLS_MAX:
        raise ValueError(
            "dml_plm: learner='tree2' found more than"
            f" {_DML_TREE2_CELLS_MAX} distinct (fold, x) cells — exact"
            " CART's candidate set is the distinct-value set; bin or"
            " round the feature first (or raise"
            " HDFE_DML_TREE2_CELLS_MAX)"
        )
    if cells["__f"].isna().any():
        raise ValueError(
            f"dml_plm: id_col {id_col!r} has values that do not cast"
            " to an integer — fold assignment needs integer-castable"
            " ids"
        )
    folds_seen = set(int(f) for f in cells["__f"].unique())
    if len(folds_seen) < n_folds:
        sizes = cells.groupby("__f")["__c"].sum().to_dict()
        raise ValueError(
            f"dml_plm: only {len(folds_seen)} of {n_folds} folds are"
            f" populated (fold sizes {sizes}) — too few distinct ids"
        )
    cells = cells.sort_values("__v", kind="mergesort").reset_index(
        drop=True
    )

    # ONE complement groupby per fold carries BOTH targets' sums
    # (review r14: a per-target loop re-filtered and re-grouped the
    # same cell frame 2×n_folds times — at the 5M-cell gate that is
    # seconds of redundant driver work per extra pass)
    leaves: dict = {"__sy": {}, "__sd": {}}
    for f in range(n_folds):
        comp = cells[cells["__f"] != f]
        g = comp.groupby("__v", sort=True).agg(
            c=("__c", "sum"), sy=("__sy", "sum"), sd=("__sd", "sum")
        )
        v = g.index.to_numpy()
        c = g["c"].to_numpy(np.float64)
        leaves["__sy"][f] = _fit_tree2_numpy(
            v, c, g["sy"].to_numpy(np.float64)
        )
        leaves["__sd"][f] = _fit_tree2_numpy(
            v, c, g["sd"].to_numpy(np.float64)
        )

    def resid_chain(col, target_sum_col):
        expr = None
        for f in range(n_folds):
            pred = None
            for ub, m in leaves[target_sum_col][f][:-1]:
                if hasattr(ub, "item"):
                    ub = ub.item()
                cond = F.col(xc) <= F.lit(ub)
                pred = (
                    F.when(cond, F.lit(m))
                    if pred is None
                    else pred.when(cond, F.lit(m))
                )
            last = F.lit(leaves[target_sum_col][f][-1][1])
            pred = last if pred is None else pred.otherwise(last)
            branch = F.col(col) - pred
            expr = (
                F.when(fold == F.lit(f), branch)
                if expr is None
                else expr.when(fold == F.lit(f), branch)
            )
        return expr

    return resid_chain(y, "__sy"), resid_chain(d, "__sd")


def dml_plm(
    df: DataFrame,
    y: str,
    d: str,
    x: "str | list[str]",
    id_col: str,
    n_folds: int = 2,
    learner: str = "linear",
) -> DataFrame:
    """Double/debiased machine learning for the partial-linear model
    (Chernozhukov et al. 2018): ``y = θ·d + g(x) + ε``,
    ``d = m(x) + v``, with CROSS-FITTED nuisances — the modern
    workhorse for "effect of d controlling flexibly for x" when g/m
    are estimated, completing the causal panel beside
    `ipw_ate`/`aipw_ate` (design-based) and `iv_2sls` (instrument-
    based). ``learner`` picks the nuisance family — the
    residual-on-residual skeleton is learner-agnostic by design:

    - ``"linear"`` (default): per-fold OLS of y and d on [1|x] (the
      partialling-out Frisch–Waugh form); TWO fused aggregations.
    - ``"tree2"`` (VERDICT r13 item 5): per-fold greedy exact-CART
      depth-2 REGRESSION trees per target — genuinely non-linear
      g/m, robust to monotone/kinked confounding a line misses.
      One full-data cell groupBy + the residual pass; the
      distinct-value cell table must fit the driver gate
      (``HDFE_DML_TREE2_CELLS_MAX``, default 5M — exact CART's
      candidate set is the distinct-value set; bin first beyond
      that), single x column.

    Cross-fitting: rows split into ``n_folds`` by the deterministic,
    engine-portable ``id mod n_folds`` (the hash-split convention —
    a seeded RNG could never match a SQL oracle); each fold's rows
    are residualized with nuisance coefficients fit on the OTHER
    folds, so overfitting bias cannot leak (Neyman orthogonality +
    sample splitting). Estimator: ``θ = Σṽỹ / Σṽ²``, plug-in
    ``se = sqrt(Σṽ²ε̂²) / Σṽ²`` with
    ``Σṽ²ε̂² = Σṽ²ỹ² − 2θΣṽ³ỹ + θ²Σṽ⁴`` — closed form from the
    same pass, no third scan.

    Scale (the econ-panel skeleton): TWO fused map-side-combined
    aggregations — (1) per-fold moment blocks of [1|x] against y and
    d (n_folds × O(k²) scalars to the driver; the complement-fold
    normal equations solve in numpy), (2) the five residual-product
    sums with fold-dependent coefficients folded back as literals
    (a when-chain per row, pure JVM). Nothing data-sized ever
    reaches the driver. Listwise NULL deletion over (id, y, d, x) —
    the r13 moment-estimator discipline.

    Returns one row: theta, se, n_used, n_folds.

    Determinism (the `ri_pvalue` two-scan discipline, hardened
    VERDICT r13 item 4): the input is scanned TWICE — the fold-moment
    pass and the residual-product pass — and the filtered base is
    ``persist()``-ed between them (unpersisted in ``finally``), so
    both passes see the SAME rows structurally, even for a
    non-deterministic upstream (``rand()`` columns, changing
    sources). NaN values (as
    opposed to NULL) are excluded from the estimating sample like
    NULLs — Spark's ``isNotNull`` passes NaN, which would otherwise
    poison every moment silently (review r13c).
    """
    import numpy as np
    from pyspark.sql import types as T

    x_cols = [x] if isinstance(x, str) else list(x)
    if n_folds < 2:
        raise ValueError("dml_plm: n_folds must be >= 2")
    if learner not in ("linear", "tree2"):
        raise ValueError(
            f"dml_plm: unknown learner {learner!r}"
            " (expected 'linear' or 'tree2')"
        )
    k = len(x_cols) + 1  # [1 | x]
    # try_cast: a non-castable id must surface as the domain error in
    # the NULL-fold check below, not an ANSI CAST_INVALID_INPUT crash
    # mid-aggregation (review r13c)
    fold = F.pmod(
        F.col(id_col).try_cast("long"), F.lit(int(n_folds))
    )
    valid = F.col(id_col).isNotNull()
    dtypes = dict(df.dtypes)
    for c in [y, d, *x_cols]:
        valid = valid & F.col(c).isNotNull()
        if dtypes.get(c) in ("double", "float"):
            valid = valid & ~F.isnan(F.col(c))
    # Persist the filtered base between the two scans (VERDICT r13
    # item 4): the fold-moment pass and the residual-product pass
    # must see the SAME rows — persist() turns the documented
    # "input must be deterministic between jobs" contract into a
    # structural guarantee (the wls_within pattern).
    base = df.filter(valid).persist()
    try:

        if learner == "tree2":
            ry, rv = _tree2_residuals(
                base, fold, y, d, x_cols, n_folds, id_col
            )
        else:
            # Per-fold moment cells over (x, y, d): Σ1·1 = __w, Σ1·c =
            # __s_i, Σcᵢcⱼ = __p_i_j — the [1|x|y|d] Gram of each fold.
            kc = k + 1
            cells = _moment_cells(
                base, x_cols + [y, d], [fold.alias("__f")]
            ).collect()
            # An id whose cast-to-long fails (non-numeric string, NaN double)
            # lands in a NULL fold — name the cause instead of crashing on
            # int(None) below (review r13c).
            if any(r["__f"] is None for r in cells):
                raise ValueError(
                    f"dml_plm: id_col {id_col!r} has values that do not cast"
                    " to an integer — fold assignment needs integer-castable"
                    " ids"
                )
            if len(cells) < n_folds:
                sizes = {int(r["__f"]): int(r["__w"]) for r in cells}
                raise ValueError(
                    f"dml_plm: only {len(cells)} of {n_folds} folds are"
                    f" populated (fold sizes {sizes}) — too few distinct ids"
                )
            G = {}
            Xy = {}
            Xd = {}
            for r in cells:
                f = int(r["__f"])
                aug = np.empty((kc + 1, kc + 1))
                aug[0, 0] = float(r["__w"])
                aug[0, 1:] = aug[1:, 0] = [
                    float(r[f"__s_{i}"] or 0.0) for i in range(kc)
                ]
                aug[1:, 1:] = _sym_from_row(r, kc, "__p_")
                G[f], Xy[f], Xd[f] = aug[:k, :k], aug[:k, k], aug[:k, k + 1]
            # complement-fold nuisance fits (cross-fitting)
            by = {}
            bd = {}
            for f in range(n_folds):
                Gc = sum(G[o] for o in G if o != f)
                yc = sum(Xy[o] for o in Xy if o != f)
                dc = sum(Xd[o] for o in Xd if o != f)
                # Conditioning guard (review r13c): an exactly-singular Gc
                # would raise a raw LinAlgError, and a NEAR-collinear one
                # would silently return garbage nuisance coefficients — both
                # become the domain error naming the fix.
                cond = float(np.linalg.cond(Gc))
                if not np.isfinite(cond) or cond > 1e12:
                    raise ValueError(
                        "dml_plm: the [1|x] nuisance design is (near-)"
                        f"collinear on the complement of fold {f}"
                        f" (condition number {cond:.2e}) — drop or combine"
                        " collinear x columns (see find_collinear_cols_gram)"
                    )
                if k == 2:
                    # Single-x nuisance: solve the 2x2 normal equations with
                    # the EXACT closed-form Cramer expressions (same operation
                    # order an ANSI-SQL oracle spells), not LAPACK — LAPACK's
                    # pivoted LU can differ from Cramer in the last ulp, and
                    # those ulps are what a rounded cross-engine hash compares
                    # (ADVICE r13).  nc=Gc[0,0], sxc=Gc[0,1], sxxc=Gc[1,1].
                    nc, sxc, sxxc = Gc[0, 0], Gc[0, 1], Gc[1, 1]
                    det = nc * sxxc - sxc * sxc
                    by[f] = np.array(
                        [(sxxc * yc[0] - sxc * yc[1]) / det,
                         (nc * yc[1] - sxc * yc[0]) / det]
                    )
                    bd[f] = np.array(
                        [(sxxc * dc[0] - sxc * dc[1]) / det,
                         (nc * dc[1] - sxc * dc[0]) / det]
                    )
                else:
                    by[f] = np.linalg.solve(Gc, yc)
                    bd[f] = np.linalg.solve(Gc, dc)

            def _resid(col, coefs):
                expr = None
                for f in range(n_folds):
                    fit = F.lit(float(coefs[f][0]))
                    for i, c in enumerate(x_cols):
                        fit = fit + F.lit(float(coefs[f][i + 1])) * F.col(c)
                    branch = F.col(col) - fit
                    expr = (
                        F.when(fold == F.lit(f), branch)
                        if expr is None
                        else expr.when(fold == F.lit(f), branch)
                    )
                return expr

            ry = _resid(y, by)
            rv = _resid(d, bd)
        out = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(rv * ry).alias("svy"),
            F.sum(rv * rv).alias("svv"),
            F.sum(rv * rv * ry * ry).alias("svvyy"),
            F.sum(rv * rv * rv * ry).alias("svvvy"),
            F.sum(rv * rv * rv * rv).alias("svvvv"),
        ).collect()[0]
        n = int(out["n"])
        svy, svv = float(out["svy"] or 0.0), float(out["svv"] or 0.0)
        # `not (svv > 0)` also catches NaN (review r13c): `svv <= 0` is
        # False for NaN and would let an all-NaN row through silently.
        if not svv > 0:
            raise ValueError(
                "dml_plm: residualized treatment has no variance — d is"
                " collinear with x (or the sums are NaN)"
            )
        theta = svy / svv
        s_eps = (
            float(out["svvyy"] or 0.0)
            - 2.0 * theta * float(out["svvvy"] or 0.0)
            + theta * theta * float(out["svvvv"] or 0.0)
        )
        se = float(np.sqrt(max(s_eps, 0.0))) / svv
        spark = df.sparkSession
        return spark.createDataFrame(
            [(theta, se, n, int(n_folds))],
            schema="theta double, se double, n_used bigint, n_folds bigint",
        )
    finally:
        base.unpersist()


def wild_cluster_bootstrap(
    df: DataFrame,
    y: str,
    x: str,
    cluster: str,
    n_boot: int = 199,
    scale: float = 1e6,
) -> DataFrame:
    """Wild cluster bootstrap p-value for ``H0: x has no effect on
    y`` under within-cluster dependence (Cameron–Gelbach–Miller
    2008) — the few-cluster inference completion beside the
    asymptotic CRVE (`se_cluster`): with tens of clusters the CRVE
    t-test over-rejects badly, and the sign-flip null distribution
    of the cluster scores is the standard fix.

    Statistic: the centered cross-moment ``T = Σ_g S_g`` with
    per-cluster scores ``S_g = Σ_g (x̃)(ỹ)`` (the OLS slope
    numerator; the denominator is sign-invariant so it cancels from
    the rank). Each bootstrap draw flips every cluster's score by a
    Rademacher sign; ``p = (1 + #{|T_b| ≥ |T|}) / (B + 1)`` (the
    `ri_pvalue` add-one convention).

    Cross-engine determinism discipline: values are integerized at
    ``scale`` (``round(v·scale)`` exact DECIMAL — the welch_by
    convention) and centered on the FLOOR of the integerized means,
    so every ``S_g`` — and therefore every signed sum, comparison,
    and p — is an EXACT integer on both engines (a float S_g would
    make the ties in ``|T_b| ≥ |T|`` partition-order-dependent; the
    b-th draw with all-plus signs must compare bit-equal). Silent
    decimal overflow is GUARDED (review r14): rows whose integerized
    value nulls out of DECIMAL(38,0), and cluster scores whose
    products overflow, RAISE with the lower-the-scale fix instead of
    silently dropping from the sums. Signs are the `ri_pvalue` LCG
    family on TWO residues of the integer-castable cluster id —
    ``σ_b(g) = +1 iff (h₁·P_b + h₂·Q_b) mod M < M/2`` with
    ``h₁ = id mod M``, ``h₂ = id mod M₂`` (distinct primes; review
    r14: a single residue hands identical sign SEQUENCES to clusters
    congruent mod M, sign-correlating them across every draw — two
    residues push the identical-sequence space to M·M₂ ≈ 1e12).

    Scale: one count+sums pre-pass (two center literals), ONE
    cluster-keyed aggregation of the scores (map-side partials), and
    ONE fused aggregation over the CLUSTER-sized score table
    carrying all B signed sums — cost independent of B on the data,
    never a per-draw rescan. The filtered base is persisted across
    its two full scans (the `dml_plm` determinism pattern).

    Returns one row: (beta, p_value, n_clusters, n_boot).
    """
    if n_boot < 1:
        raise ValueError("wild_cluster_bootstrap: n_boot >= 1")
    M = 1_000_003
    M2 = 999_983
    dtypes = dict(df.dtypes)
    valid = F.col(cluster).isNotNull()
    for c in (y, x):
        valid = valid & F.col(c).isNotNull()
        if dtypes.get(c) in ("double", "float"):
            valid = valid & ~F.isnan(F.col(c))
    base = df.filter(valid).persist()
    try:
        # try_cast / try_multiply: overflow must surface as the NAMED
        # domain error below on BOTH ANSI and non-ANSI sessions — a
        # bare ANSI ArithmeticException mid-aggregation names the
        # engine, not the fix (review r14, the dml_plm try_cast
        # precedent)
        ux = F.round(F.col(x) * F.lit(float(scale))).try_cast(
            "decimal(38,0)"
        )
        uy = F.round(F.col(y) * F.lit(float(scale))).try_cast(
            "decimal(38,0)"
        )
        pre = base.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(ux).alias("sx"),
            F.sum(uy).alias("sy"),
            # a value too large for DECIMAL(38,0) nulls out of the
            # cast (non-ANSI) and would silently vanish from every
            # sum while n still counts it (review r14) — detect here
            F.sum(F.when(ux.isNull() | uy.isNull(), 1).otherwise(0))
            .alias("badu"),
        ).collect()[0]
        n = int(pre["n"])
        if n == 0:
            raise ValueError("wild_cluster_bootstrap: empty sample")
        if int(pre["badu"] or 0) > 0:
            raise ValueError(
                "wild_cluster_bootstrap: integerized values overflow"
                " DECIMAL(38,0) — lower `scale` (welch_by's overflow"
                " convention)"
            )
        cx0 = int(pre["sx"]) // n  # floor — exact on both engines
        cy0 = int(pre["sy"]) // n
        cxd = ux - F.lit(cx0).cast("decimal(38,0)")
        cyd = uy - F.lit(cy0).cast("decimal(38,0)")
        h1 = F.pmod(F.col(cluster).try_cast("long"), F.lit(M))
        h2 = F.pmod(F.col(cluster).try_cast("long"), F.lit(M2))
        pxy = F.try_multiply(cxd, cyd)
        pxx = F.try_multiply(cxd, cxd)
        g = base.groupBy(F.col(cluster).alias("__c")).agg(
            F.min(h1).alias("__h"),
            F.min(h2).alias("__h2"),
            F.sum(pxy).alias("__s"),
            F.sum(pxx).alias("__sxx"),
            # a centered product that overflows DECIMAL(38,0) nulls
            # (try_multiply) and F.sum SKIPS it — the cluster score
            # would silently lose rows (review r14); detect per
            # cluster and raise below
            F.sum(F.when(pxy.isNull() | pxx.isNull(), 1).otherwise(0))
            .alias("__badp"),
        )
        s = F.col("__s")
        aggs = [
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.when(F.col("__h").isNull(), 1).otherwise(0))
            .alias("__badh"),
            F.sum(F.col("__badp")).alias("__badp"),
            F.sum(s).alias("__t_obs"),
            F.sum(F.col("__sxx")).alias("__sxx_tot"),
        ]
        for b in range(n_boot):
            pb = _ri_multiplier(b, M)
            qb = 7919 * (b + 1)
            plus = F.pmod(
                F.col("__h") * F.lit(pb) + F.col("__h2") * F.lit(qb),
                F.lit(M),
            ) < F.lit(M // 2)
            aggs.append(
                F.sum(F.when(plus, s).otherwise(-s)).alias(f"__t_{b}")
            )
        row0 = g.agg(*aggs)
        hits = F.lit(1)
        tobs = F.col("__t_obs")
        for b in range(n_boot):
            hits = hits + F.when(
                F.abs(F.col(f"__t_{b}")) >= F.abs(tobs), F.lit(1)
            ).otherwise(F.lit(0))
        out = row0.select(
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("__badh"),
            F.col("__badp"),
            F.when(
                F.col("__sxx_tot") > 0,
                tobs.cast("double") / F.col("__sxx_tot").cast("double"),
            ).alias("beta"),
            (hits.cast("double") / F.lit(float(n_boot + 1)))
            .alias("p_value"),
            F.lit(n_boot).cast("long").alias("n_boot"),
        ).collect()[0]
        if int(out["__badh"] or 0) > 0:
            raise ValueError(
                f"wild_cluster_bootstrap: cluster col {cluster!r} has"
                " values that do not cast to an integer — the"
                " deterministic Rademacher signs need integer-castable"
                " cluster ids"
            )
        if int(out["__badp"] or 0) > 0:
            raise ValueError(
                "wild_cluster_bootstrap: centered cluster-score"
                " products overflow DECIMAL(38,0) — lower `scale`"
            )
        if int(out["n_clusters"]) < 2:
            raise ValueError(
                "wild_cluster_bootstrap: needs >= 2 clusters"
                f" (got {int(out['n_clusters'])})"
            )
        spark = df.sparkSession
        return spark.createDataFrame(
            [(out["beta"], out["p_value"], int(out["n_clusters"]),
              int(out["n_boot"]))],
            schema="beta double, p_value double, n_clusters bigint,"
                   " n_boot bigint",
        )
    finally:
        base.unpersist()


def att_gt(
    df: DataFrame,
    y: str,
    period: str,
    first_treated: str,
    side: str = "post",
) -> DataFrame:
    """Group-time average treatment effects ATT(g, t)
    (Callaway–Sant'Anna 2021) — the staggered-adoption completion of
    the DiD panel: with units treated at DIFFERENT times, the
    two-way-FE regression mixes already-treated units into the
    control group with negative weights; the CS estimator compares
    each adoption cohort g, at each post period t, against the
    NEVER-TREATED pool only, anchored at the cohort's last untreated
    period g−1:

    ``ATT(g,t) = [ȳ(g,t) − ȳ(g,g−1)] − [ȳ(C,t) − ȳ(C,g−1)]``

    ``first_treated`` is the unit's adoption period (integer-coded;
    NULL = never treated — the control pool C). Periods must be
    integer-castable (g−1 is period arithmetic); non-castable values
    RAISE through a fused guard (review r14b — a silent NULL would
    merge treated units into the never-treated pool). The guard
    rides the output rows, so an input whose EVERY cohort label
    fails the cast yields an empty frame rather than the error —
    documented residual of the lazy, single-scan design. Only cells
    whose four means all exist are emitted — a cohort with no g−1
    observation, or a period missing from the control pool, has no
    identified ATT and is absent rather than NULL (the `tree_depth2`
    absence convention).

    Scale: ONE groupBy builds the (cohort, period) mean table
    (map-side partials; cohort×period-sized), and everything after
    is broadcast self-joins of that tiny table — the fact table is
    scanned once. NULL/NaN y rows drop (listwise).

    Returns one row per identified (g, t), t ≥ g:
    (g, t, att, n_treat, n_ctrl).

    ``side="pre"`` (round-16 pre-build) emits the PLACEBO cells
    instead — the same four-mean contrast for t < g−1 (t = g−1 is
    the anchor and is identically zero, so it is excluded): under
    parallel trends every pre cell is mean-zero, which is exactly
    what `pretrends` tests. Identical plan either way — only the
    target-side filter changes.
    """
    if side not in ("post", "pre"):
        raise ValueError(
            f"att_gt: unknown side {side!r} (expected 'post' or 'pre')"
        )
    yv = F.col(y)
    valid = F.col(period).isNotNull() & yv.isNotNull()
    if dict(df.dtypes).get(y) in ("double", "float"):
        valid = valid & ~F.isnan(yv)
    base = df.filter(valid)
    g_col = F.col(first_treated).try_cast("long")
    t_col = F.col(period).try_cast("long")
    # No checkpoint: the three downstream joins share this
    # aggregation's shuffle via ReusedExchange, and a localCheckpoint
    # here would pin the blocks for the whole session with no release
    # path on a lazily-returned frame (review r14b).
    cells = base.groupBy(
        g_col.alias("__g"), t_col.alias("__t")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        (F.sum(yv).cast("double") / F.count(F.lit(1))).alias("__m"),
        # try_cast failures must surface as the named error, never a
        # silent merge into the never-treated pool / a vanished cell
        # (review r14b: the wild_cluster_bootstrap convention)
        F.sum(
            F.when(F.col(first_treated).isNotNull()
                   & g_col.isNull(), 1).otherwise(0)
        ).alias("__badg"),
        F.sum(F.when(t_col.isNull(), 1).otherwise(0)).alias("__badt"),
    )
    # The guard is a broadcast 1-row cross join consumed INSIDE the
    # output expression (the _dec38_num raise_error pattern), so the
    # whole operator stays one lazy plan — no eager pre-check action,
    # no second scan, and the shared aggregation's exchange is still
    # reused across the join branches.
    guard = cells.agg(
        F.sum("__badg").alias("__gerr"),
        F.sum("__badt").alias("__terr"),
    )

    tc = cells.filter(F.col("__g").isNotNull())
    ctrl = cells.filter(F.col("__g").isNull()).select(
        F.col("__t").alias("__ct"), F.col("__m").alias("__cm"),
        F.col("__n").alias("__cn"),
    )
    tfilter = (
        F.col("__t") >= F.col("__g")
        if side == "post"
        else F.col("__t") < F.col("__g") - 1
    )
    target = tc.filter(tfilter).select(
        "__g", "__t", F.col("__m").alias("__mt"),
        F.col("__n").alias("__nt"),
    )
    gbase = tc.select(
        F.col("__g").alias("__bg"), F.col("__t").alias("__bt"),
        F.col("__m").alias("__mb"),
    )
    out = (
        target.join(
            F.broadcast(gbase),
            (F.col("__bg") == F.col("__g"))
            & (F.col("__bt") == F.col("__g") - 1),
        )
        .join(
            F.broadcast(ctrl.select(
                F.col("__ct").alias("__t1"),
                F.col("__cm").alias("__cmt"),
                F.col("__cn").alias("__cnt"),
            )),
            F.col("__t1") == F.col("__t"),
        )
        .join(
            F.broadcast(ctrl.select(
                F.col("__ct").alias("__t0"),
                F.col("__cm").alias("__cmb"),
            )),
            F.col("__t0") == F.col("__g") - 1,
        )
    )
    att_expr = F.when(
        F.col("__gerr") > 0,
        F.raise_error(F.lit(
            f"att_gt: first_treated col {first_treated!r} has"
            " non-NULL values that do not cast to an integer — a"
            " silent NULL would merge treated units into the"
            " never-treated control pool"
        )).cast("double"),
    ).when(
        F.col("__terr") > 0,
        F.raise_error(F.lit(
            f"att_gt: period col {period!r} has values that do not"
            " cast to an integer — period arithmetic (g-1) needs"
            " integer-coded periods"
        )).cast("double"),
    ).otherwise(
        (F.col("__mt") - F.col("__mb"))
        - (F.col("__cmt") - F.col("__cmb"))
    )
    return out.crossJoin(F.broadcast(guard)).select(
        F.col("__g").alias("g"),
        F.col("__t").alias("t"),
        att_expr.alias("att"),
        F.col("__nt").cast("long").alias("n_treat"),
        F.col("__cnt").cast("long").alias("n_ctrl"),
    )


def triple_diff(
    df: DataFrame,
    y: str,
    treat: str,
    post: str,
    group: str,
) -> DataFrame:
    """Triple difference (DDD): the `did` contrast of the eligible
    subgroup minus the same contrast of the ineligible subgroup —
    the standard design when a policy hits (treated region × post
    period × eligible group) and region-period shocks would
    contaminate a plain DiD:

    ``ddd = DiD(group) − DiD(¬group)``

    ``treat``/``post``/``group`` are boolean columns. ONE
    map-side-combined aggregation computes all EIGHT cell means
    (sum cast double / count — exact for DECIMAL outcomes, the `did`
    convention); an empty cell leaves its DiD (and the DDD) NULL.
    Rows with a NULL flag belong to no cell; NULL/NaN outcomes
    belong to no mean. Returns one row:
    (ddd, did_group, did_ctrlgroup, n_group, n_ctrlgroup).
    """
    t, p, g = F.col(treat), F.col(post), F.col(group)
    yv = F.col(y)
    y_ok = yv.isNotNull()
    if dict(df.dtypes).get(y) in ("double", "float"):
        y_ok = y_ok & ~F.isnan(yv)
    yc = F.when(y_ok, yv)
    cells = {}
    for gtag, gc in (("g", g), ("h", ~g)):
        for k, c in (
            ("tp", t & p), ("t0", t & ~p),
            ("cp", ~t & p), ("c0", ~t & ~p),
        ):
            cells[f"{gtag}_{k}"] = gc & c
    agg = df.agg(
        *[
            F.sum(F.when(c, yc)).cast("double").alias(f"s_{k}")
            for k, c in cells.items()
        ],
        *[F.count(F.when(c, yc)).alias(f"n_{k}") for k, c in cells.items()],
    )
    m = {
        k: F.when(F.col(f"n_{k}") > 0, F.col(f"s_{k}") / F.col(f"n_{k}"))
        for k in cells
    }

    def _did(gtag):
        return (m[f"{gtag}_tp"] - m[f"{gtag}_t0"]) - (
            m[f"{gtag}_cp"] - m[f"{gtag}_c0"]
        )

    did_g, did_h = _did("g"), _did("h")
    return agg.select(
        (did_g - did_h).alias("ddd"),
        did_g.alias("did_group"),
        did_h.alias("did_ctrlgroup"),
        sum(
            (F.col(f"n_g_{k}") for k in ("tp", "t0", "cp", "c0")),
            F.lit(0),
        ).cast("long").alias("n_group"),
        sum(
            (F.col(f"n_h_{k}") for k in ("tp", "t0", "cp", "c0")),
            F.lit(0),
        ).cast("long").alias("n_ctrlgroup"),
    )


def lee_bounds(
    df: DataFrame,
    y: str,
    treat: str,
) -> DataFrame:
    """Lee (2009) treatment-effect bounds under differential
    attrition: outcomes are observed (non-NULL ``y``) at different
    rates across arms, so the naive observed-sample contrast is
    selection-biased; Lee's bounds trim the HIGHER-selection arm by
    the selection differential and bracket the effect for the
    always-observed stratum:

    ``q = 1 − s_lo/s_hi`` (the excess selection share),
    ``lower = mean(y_hi | y ≤ Q_{1−q}) − mean(y_lo)``,
    ``upper = mean(y_hi | y ≥ Q_q) − mean(y_lo)``
    (signs flip when the CONTROL arm is the higher-selection one —
    the contrast is always treated − control).

    Scale: THREE fused aggregations — (1) arm counts + selection
    rates (two scalars decide which arm trims and at what q),
    (2) the two exact percentile cuts of the trimmed arm (linear
    interpolation, the `winsorize_by` cross-engine convention),
    (3) conditional trimmed means against the cut literals. Nothing
    data-sized reaches the driver. NaN observed values are treated
    as missing (unobserved), like NULL.

    Returns one row: (lower, upper, naive, q_trim, n_treat_obs,
    n_ctrl_obs, s_treat, s_ctrl).
    """
    t = F.col(treat)
    yv = F.col(y)
    obs = yv.isNotNull()
    if dict(df.dtypes).get(y) in ("double", "float"):
        obs = obs & ~F.isnan(yv)
    base = df.filter(t.isNotNull())
    c1 = base.agg(
        F.count(F.when(t, 1)).alias("n1"),
        F.count(F.when(~t, 1)).alias("n0"),
        F.count(F.when(t & obs, 1)).alias("m1"),
        F.count(F.when(~t & obs, 1)).alias("m0"),
    ).collect()[0]
    n1, n0 = int(c1["n1"]), int(c1["n0"])
    m1, m0 = int(c1["m1"]), int(c1["m0"])
    if n1 == 0 or n0 == 0 or m1 == 0 or m0 == 0:
        raise ValueError(
            "lee_bounds: both arms need rows and observed outcomes"
            f" (n1={n1}, n0={n0}, observed m1={m1}, m0={m0})"
        )
    s1, s0 = m1 / n1, m0 / n0
    # trim the higher-selection arm; q computed driver-side from the
    # four exact integers (one IEEE expression both engines share)
    if s1 >= s0:
        hi_cond, lo_cond, sign = t, ~t, 1.0
        q = 1.0 - (m0 * n1) / (m1 * n0)
    else:
        hi_cond, lo_cond, sign = ~t, t, -1.0
        q = 1.0 - (m1 * n0) / (m0 * n1)
    hi_y = F.when(hi_cond & obs, yv)
    lo_y = F.when(lo_cond & obs, yv)
    cuts = base.agg(
        F.percentile(hi_y, F.lit(q)).alias("ql"),
        F.percentile(hi_y, F.lit(1.0 - q)).alias("qh"),
    ).collect()[0]
    ql, qh = float(cuts["ql"]), float(cuts["qh"])
    fin = base.agg(
        (F.sum(F.when(hi_y <= F.lit(qh), hi_y)).cast("double")
         / F.count(F.when(hi_y <= F.lit(qh), 1))).alias("m_hi_low"),
        (F.sum(F.when(hi_y >= F.lit(ql), hi_y)).cast("double")
         / F.count(F.when(hi_y >= F.lit(ql), 1))).alias("m_hi_high"),
        (F.sum(hi_y).cast("double") / F.count(hi_y)).alias("m_hi"),
        (F.sum(lo_y).cast("double") / F.count(lo_y)).alias("m_lo"),
    )
    # Apply the sign BEFORE taking least/greatest: with the control
    # arm trimmed (sign = −1), sgn·least(...) would be the UPPER
    # bound — ordering must happen on the signed contrasts
    # (review: caught by the trims-control test).
    sgn = F.lit(sign)
    a = sgn * (F.col("m_hi_low") - F.col("m_lo"))
    b = sgn * (F.col("m_hi_high") - F.col("m_lo"))
    lower = F.least(a, b)
    upper = F.greatest(a, b)
    return fin.select(
        lower.alias("lower"),
        upper.alias("upper"),
        (sgn * (F.col("m_hi") - F.col("m_lo"))).alias("naive"),
        F.lit(float(q)).alias("q_trim"),
        F.lit(m1).cast("long").alias("n_treat_obs"),
        F.lit(m0).cast("long").alias("n_ctrl_obs"),
        F.lit(float(s1)).alias("s_treat"),
        F.lit(float(s0)).alias("s_ctrl"),
    )


def synthetic_control(
    df: DataFrame,
    unit_col: str,
    period_col: str,
    y_col: str,
    treated_unit,
    post_from,
    max_donors: int = 200,
    scale: float = 1e6,
    return_weights: bool = False,
    method: str = "ols",
    fw_max_iter: int = 20_000,
) -> DataFrame:
    """Synthetic-control counterfactual for one treated unit.
    ``method="ols"`` (default) is the panel-regression variant of
    Hsiao, Ching & Wan 2012: donor weights are the UNCONSTRAINED
    least-squares fit of the treated unit's pre-period path on the
    donor paths. ``method="simplex"`` is the Abadie–Gardeazabal
    constraint (w ≥ 0, Σw = 1): the same quadratic objective
    minimized over the simplex by Frank–Wolfe with exact line search
    on the J×J driver-side Gram — deterministic, no QP library,
    duality-gap stopping RELATIVE to the first iterate's gap
    (stop when gap ≤ 1e-12·gap₀; an absolute ``||b||²``-style bound
    is dimensionally objective² and would stop immediately at large
    scale) or after ``fw_max_iter`` iterations (default 20 000,
    microseconds at J ≤ 200). The simplex path is engine-only
    (iterative — not SQL-spellable; the registered oracle fixture
    uses "ols" at J = 2).

    Given a (unit, period, y) panel, a treated unit and the first
    post-treatment period, fit ``w = argmin Σ_{t<T0} (y_tr(t) −
    Σ_j w_j y_j(t))²`` over the donor pool (every other unit) and
    emit the per-period series: actual, synthetic = Σ w_j y_j(t),
    gap = actual − synthetic, is_post, n_donors.

    Exactness: the J×J Gram and J-vector of cross moments are sums
    of exact ``round(y·scale)`` DECIMAL(38,0) integer products (the
    `welch_by` machinery — order-independent), cast to double only
    at the solve; the common scale² cancels in the normal equations.
    For J = 2 the solve is the closed-form Cramer expressions in a
    pinned operation order (``det = g11·g22 − g12·g12``) so a SQL
    oracle replays it bit-for-bit; J > 2 uses numpy on the J×J
    driver-side matrix (documented engine-only path).

    Contract: the PRE panel must be balanced and deduplicated — every
    donor observed in exactly the treated unit's pre periods, one row
    per (unit, period); violations RAISE (the counts ride the moment
    rows, no extra scan). Post periods missing donors get NULL
    synthetic (``n_donors`` counts DISTINCT donors present and says
    why); a post period with a DUPLICATED donor row also gets NULL
    synthetic (distinct-vs-row counts disagree — the weight would
    otherwise apply twice; ADVICE r14), and a duplicated treated row
    gets NULL actual. NULL/NaN y rows drop (listwise).

    Scale: ONE donor-donor self-join on the pre-period axis builds
    the J² Gram cells (J² tiny by contract, ``max_donors``-guarded
    via a LIMIT-gated collect — the `tree2` precedent), one
    donor-treated join builds the J cross moments, and the output
    series is one groupBy over the full panel with the weights
    folded back as a J-entry literal map. Nothing data-sized reaches
    the driver.
    """
    if method not in ("ols", "simplex"):
        raise ValueError(
            f"synthetic_control: unknown method {method!r}"
            " (expected 'ols' or 'simplex')"
        )
    no_output_collision(
        "synthetic_control", "period_col", period_col,
        ("actual", "synthetic", "gap", "is_post", "n_donors"),
    )
    if return_weights:
        no_output_collision(
            "synthetic_control", "unit_col", unit_col, ("weight",),
        )
    yv = F.col(y_col)
    valid = (
        F.col(unit_col).isNotNull()
        & F.col(period_col).isNotNull()
        & yv.isNotNull()
    )
    if dict(df.dtypes).get(y_col) in ("double", "float"):
        valid = valid & ~F.isnan(yv)
    # per-row magnitude guard: |u| <= 3e18 keeps every u_i*u_j
    # product under the DECIMAL(38,0) ceiling (the _dec38_num family
    # bound); a silent non-ANSI NULL here would deflate the Gram and
    # produce wrong weights with no error
    u_raw = F.round(yv * F.lit(float(scale)))
    u = F.when(
        F.abs(u_raw) > F.lit(3.0e18),
        F.raise_error(
            F.lit(
                "synthetic_control: round(y*scale) exceeds the exact"
                " DECIMAL(38,0) product headroom — lower `scale` for"
                " this value range"
            )
        ),
    ).otherwise(u_raw).cast("decimal(38,0)")
    base = df.filter(valid).select(
        F.col(unit_col).alias("__unit"),
        F.col(period_col).alias("__per"),
        yv.cast("double").alias("__y"),
        u.alias("__u"),
    )
    is_tr = F.col("__unit") == F.lit(treated_unit)
    pre = base.filter(F.col("__per") < F.lit(post_from))
    tr_pre = pre.filter(is_tr)
    don_pre = pre.filter(~is_tr)

    trc = tr_pre.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("__per")).alias("nd"),
    ).collect()[0]
    n_pre = int(trc["n"])
    if n_pre == 0:
        raise ValueError(
            "synthetic_control: treated unit has no pre-period rows"
        )
    if n_pre != int(trc["nd"]):
        raise ValueError(
            "synthetic_control: duplicate (treated, period) pre rows"
        )

    # upper triangle only (ui <= uj): the Gram is symmetric, so the
    # mirror half is filled driver-side — halves the self-join's
    # generated rows and the aggregation work (review r14b)
    a, b = don_pre.alias("a"), don_pre.alias("b")
    gram = (
        a.join(
            b,
            (F.col("a.__per") == F.col("b.__per"))
            & (F.col("a.__unit") <= F.col("b.__unit")),
        )
        .groupBy(
            F.col("a.__unit").alias("ui"), F.col("b.__unit").alias("uj")
        )
        .agg(
            F.sum(F.col("a.__u") * F.col("b.__u")).alias("g"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    cross = (
        don_pre.alias("d")
        .join(tr_pre.alias("t"), F.col("d.__per") == F.col("t.__per"))
        .groupBy(F.col("d.__unit").alias("ui"))
        .agg(
            F.sum(F.col("d.__u") * F.col("t.__u")).alias("b"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # LIMIT-gated collects: J donors by contract, never data-sized
    gr = gram.limit(max_donors * max_donors + 1).collect()
    br = cross.limit(max_donors + 1).collect()
    if len(br) > max_donors:
        raise ValueError(
            f"synthetic_control: donor pool exceeds max_donors="
            f"{max_donors} — pass a larger cap or pre-filter donors"
        )
    donors = sorted({r["ui"] for r in br})
    J = len(donors)
    if J == 0:
        raise ValueError(
            "synthetic_control: no donor shares a pre period with "
            "the treated unit"
        )
    idx = {d: i for i, d in enumerate(donors)}
    gmap = {}
    for r in gr:
        if r["ui"] not in idx or r["uj"] not in idx:
            raise ValueError(
                "synthetic_control: donor present in the Gram pass "
                "but missing every treated pre period — unbalanced "
                "pre panel"
            )
        if int(r["n"]) != n_pre:
            raise ValueError(
                "synthetic_control: unbalanced or duplicated pre "
                f"panel (pair ({r['ui']!r},{r['uj']!r}) co-observed "
                f"{int(r['n'])} periods, treated has {n_pre})"
            )
        if r["g"] is None:
            raise ValueError(
                "synthetic_control: exact-decimal Gram moment "
                "overflowed DECIMAL(38,0) — lower `scale` for this "
                "value range / pre-period count"
            )
        i, j = idx[r["ui"]], idx[r["uj"]]
        gmap[(i, j)] = float(r["g"])
        gmap[(j, i)] = float(r["g"])  # symmetric mirror (triangle join)
    bvec = [0.0] * J
    for r in br:
        if int(r["n"]) != n_pre:
            raise ValueError(
                "synthetic_control: unbalanced pre panel (donor "
                f"{r['ui']!r} co-observed {int(r['n'])} of the "
                f"treated unit's {n_pre} pre periods)"
            )
        if r["b"] is None:
            raise ValueError(
                "synthetic_control: exact-decimal cross moment "
                "overflowed DECIMAL(38,0) — lower `scale` for this "
                "value range / pre-period count"
            )
        bvec[idx[r["ui"]]] = float(r["b"])
    if len(gmap) != J * J:
        raise ValueError(
            "synthetic_control: unbalanced pre panel — some donor "
            "pair shares no pre period"
        )
    if method == "simplex" or J != 2:
        import numpy as _np

        G = _np.zeros((J, J))
        for (i, j), v in gmap.items():
            G[i, j] = v
    if method == "simplex":
        bb = _np.asarray(bvec)
        # Frank–Wolfe on min (1/2)w'Gw − b'w over the simplex:
        # vertex oracle = argmin gradient coordinate; exact line
        # search along d = e_s − w (gamma = −d'grad / d'Gd, clamped
        # to [0, 1]); duality gap grad·(w − e_s) certifies optimality
        w_np = _np.full(J, 1.0 / J)
        tol = None
        for _ in range(int(fw_max_iter)):
            grad = G @ w_np - bb
            s = int(_np.argmin(grad))
            d = -w_np.copy()
            d[s] += 1.0
            gap = -float(d @ grad)
            if tol is None:
                # relative duality-gap stop: the gap has objective
                # units, so scale it by the FIRST iterate's gap (a
                # ||b||^2-style absolute bound is dimensionally
                # objective^2 and stops immediately at large scale)
                tol = 1e-12 * max(abs(gap), 1e-300)
            if gap <= tol:
                break
            den = float(d @ (G @ d))
            gamma = 1.0 if den <= 0.0 else min(1.0, max(0.0, gap / den))
            if gamma <= 0.0:
                break
            w_np = w_np + gamma * d
        if not _np.all(_np.isfinite(w_np)):
            raise ValueError(
                "synthetic_control: non-finite simplex weights "
                "(degenerate donor Gram)"
            )
        w = w_np.tolist()
    elif J == 2:
        g11, g12, g22 = gmap[(0, 0)], gmap[(0, 1)], gmap[(1, 1)]
        det = g11 * g22 - g12 * g12
        if det == 0.0:
            raise ValueError("synthetic_control: singular donor Gram")
        w = [
            (bvec[0] * g22 - bvec[1] * g12) / det,
            (g11 * bvec[1] - g12 * bvec[0]) / det,
        ]
    else:
        try:
            w = _np.linalg.solve(G, _np.asarray(bvec)).tolist()
        except _np.linalg.LinAlgError as e:
            raise ValueError(
                f"synthetic_control: singular donor Gram ({e})"
            ) from None
        if not all(_np.isfinite(w)):
            raise ValueError(
                "synthetic_control: non-finite weights (singular or "
                "ill-conditioned donor Gram)"
            )

    if return_weights:
        from pyspark.sql import types as T

        spark = df.sparkSession
        # preserve the panel's unit dtype (a raw DDL string would
        # force string and break on integer ids / exotic column
        # names — review r14b)
        schema = T.StructType([
            T.StructField(unit_col, df.schema[unit_col].dataType),
            T.StructField("weight", T.DoubleType()),
        ])
        return spark.createDataFrame(
            [(d, float(w[i])) for d, i in sorted(idx.items(),
                                                 key=lambda kv: kv[1])],
            schema,
        )

    wmap = F.create_map(
        *[x for d in donors for x in (F.lit(d), F.lit(float(w[idx[d]])))]
    )
    series = base.groupBy(F.col("__per")).agg(
        (
            F.sum(F.when(is_tr, F.col("__y")))
            / F.count(F.when(is_tr, F.lit(1)))
        ).alias("__act_raw"),
        F.count(F.when(is_tr, F.lit(1))).alias("__ntr"),
        F.sum(
            F.when(~is_tr, wmap[F.col("__unit")] * F.col("__y"))
        ).alias("__syn_raw"),
        F.count(
            F.when(~is_tr & wmap[F.col("__unit")].isNotNull(), F.lit(1))
        ).alias("__nd_rows"),
        # DISTINCT donors (ADVICE r14): a post period with one donor
        # duplicated and another absent still has __nd_rows == J, so
        # row counting alone would let the duplicate's weight apply
        # twice while the missing donor is silently omitted.
        # collect_set, NOT count_distinct: the distinct-aggregate
        # rewrite would add a second exchange and break this
        # operator's pinned one-aggregation plan (review r15); the
        # set is donor-bounded (<= J <= max_donors elements).
        F.size(F.collect_set(
            F.when(~is_tr & wmap[F.col("__unit")].isNotNull(),
                   F.col("__unit"))
        )).alias("n_donors"),
    )
    actual = F.when(F.col("__ntr") == 1, F.col("__act_raw"))
    synthetic = F.when(
        (F.col("n_donors") == J) & (F.col("__nd_rows") == J),
        F.col("__syn_raw"),
    )
    return series.select(
        F.col("__per").alias(period_col),
        actual.alias("actual"),
        synthetic.alias("synthetic"),
        (actual - synthetic).alias("gap"),
        (F.col("__per") >= F.lit(post_from)).alias("is_post"),
        F.col("n_donors").cast("long").alias("n_donors"),
    )


def off_policy_eval(
    df: DataFrame,
    reward_col: str,
    action_col: str,
    propensity_col: str,
    target_col: str,
    by: "list | None" = None,
    clip: float = 0.0,
) -> DataFrame:
    """Off-policy evaluation of a DETERMINISTIC target policy from
    logged bandit data (the counterfactual "what would this other
    ranking/serving policy have earned?" readout): each logged row
    carries the taken action, its logging propensity p = P(a|x), and
    the target policy's action π(x); importance weighting gives

    ``V_IPS   = Σ 1[a=π]·r/p / n``        (unbiased, high variance)
    ``V_SNIPS = Σ 1[a=π]·r/p / Σ 1[a=π]/p`` (self-normalized)
    ``ESS     = (Σw)² / Σw²``  with w = 1[a=π]/p (how many effective
    samples the weighting left — the diagnostic that says whether
    either number is usable), plus the raw match rate.

    Scale: ONE (optionally ``by``-keyed) map-side-combined
    aggregation; no join, no window, nothing data-sized on the
    driver. Propensities are overlap-clipped via the shared
    `_clipped_propensity` (NULL-safe: a NULL propensity drops its
    row rather than resurrecting at the clip bound). Rows with
    NULL/NaN reward or NULL actions drop (listwise). Float
    contract: the weighted sums are IEEE doubles; the registered
    oracle fixture uses dyadic propensities and integer rewards so
    every addend is exact (the dml_plm_tree2 fixture convention) —
    general inputs carry the summation-order caveat.

    Returns one row (per ``by`` group): (by..., n, n_matched,
    match_rate, v_ips, v_snips, ess).
    """
    outs = ("n", "n_matched", "match_rate", "v_ips", "v_snips", "ess")
    by = list(by) if by else []
    for c in by:
        no_output_collision("off_policy_eval", "by", c, outs)
    r = F.col(reward_col).cast("double")
    valid = (
        r.isNotNull()
        & F.col(action_col).isNotNull()
        & F.col(target_col).isNotNull()
    )
    if dict(df.dtypes).get(reward_col) in ("double", "float"):
        valid = valid & ~F.isnan(r)
    # NaN propensity is MISSING like NULL (review r14b second pass:
    # NaN orders greater than any number, so it passed `e > 0` with
    # weight NaN at clip=0 and silently resurrected at the 1-clip
    # bound with clip>0 — greatest/least treat NaN as largest)
    if dict(df.dtypes).get(propensity_col) in ("double", "float"):
        valid = valid & (
            F.col(propensity_col).isNull()
            | ~F.isnan(F.col(propensity_col))
        )
    e = _clipped_propensity(propensity_col, clip)
    match = F.col(action_col) == F.col(target_col)
    w = F.when(match & e.isNotNull() & (e > 0), F.lit(1.0) / e).otherwise(
        F.when(e.isNotNull() & (e > 0), F.lit(0.0))
    )
    base = df.filter(valid).select(
        *by, w.alias("__w"), r.alias("__r"), match.alias("__m")
    ).filter(F.col("__w").isNotNull())
    agg = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__m").cast("long")).alias("n_matched"),
        F.sum(F.col("__w") * F.col("__r")).alias("__swr"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sw2"),
    ]
    m = base.groupBy(*by).agg(*agg) if by else base.agg(*agg)
    nd = F.col("n").cast("double")
    return m.select(
        *by,
        "n", "n_matched",
        (F.col("n_matched").cast("double") / nd).alias("match_rate"),
        (F.col("__swr") / nd).alias("v_ips"),
        F.when(
            F.col("__sw") > 0, F.col("__swr") / F.col("__sw")
        ).alias("v_snips"),
        F.when(
            F.col("__sw2") > 0,
            F.col("__sw") * F.col("__sw") / F.col("__sw2"),
        ).alias("ess"),
    )


def mediation_by(
    df: DataFrame,
    group_col: str,
    y_col: str,
    treat_col: str,
    mediator_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """Per-group mediation decomposition (round-15 pre-build) — the
    classical product-of-coefficients analysis (Baron–Kenny 1986)
    with the Sobel (1982) standard error: how much of a treatment's
    effect on ``y`` flows THROUGH a mediator ``m``?

    ``a``  : slope of m ~ t          (treatment → mediator)
    ``b``  : slope of m in y ~ t + m (mediator → outcome, holding t)
    ``c``  : slope of y ~ t          (total effect)
    ``c'`` : slope of t in y ~ t + m (direct effect)
    indirect = a·b (= c − c' exactly, pinned), proportion mediated
    = a·b/c, ``se_indirect = sqrt(b²·se_a² + a²·se_b²)`` (Sobel).

    Every quantity is CLOSED FORM over the (t, m, y) second-moment
    block: the two-regressor OLS solves by the 2×2 Cramer
    expressions (the `cuped2_by`/`hausman_iv` convention) and the
    coefficient variances by the textbook σ²·(X'X)⁻¹ diagonals —
    all from ONE group-keyed map-side-combined aggregation of exact
    ``round(v·scale)`` DECIMAL(38,0) moments (`_dec38_num`-guarded
    numerators), so a SQL oracle mirrors every value literally and
    the whole panel runs at any row count with one shuffle.

    One shared not-NULL/not-NaN mask over (y, t, m) defines the
    estimating sample. Groups with var(t) ≤ 0, a singular (t, m)
    Gram, or n < 4 (the dof floor for the two-regressor residual
    variance) get NULL estimates, never a poisoned panel. The
    common ``scale`` cancels in every slope and SE.

    Returns one row per group: (group, n, a, b, c, c_direct,
    indirect, prop_mediated, se_indirect, z_sobel).
    """
    from hdfe_spark.operators.stats import _dec38_num, _non_nan

    no_output_collision(
        "mediation_by", "group_col", group_col,
        ("n", "a", "b", "c", "c_direct", "indirect",
         "prop_mediated", "se_indirect", "z_sobel"),
    )
    cols = {"y": y_col, "t": treat_col, "m": mediator_col}
    if len(set(cols.values())) != 3:
        raise ValueError(
            "mediation_by: y/treat/mediator must be three distinct"
            " columns"
        )
    mask = F.lit(True)
    for c in cols.values():
        mask = mask & _non_nan(df, c)
    u = {
        k: F.round(F.col(c) * F.lit(float(scale))).cast("decimal(38,0)")
        for k, c in cols.items()
    }
    zero = F.lit(0).cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).alias("n")]
    for k in ("y", "t", "m"):
        aggs.append(F.coalesce(F.sum(u[k]), zero).alias(f"__s_{k}"))
    for p, q_ in (("y", "y"), ("t", "t"), ("m", "m"),
                  ("t", "m"), ("t", "y"), ("m", "y")):
        aggs.append(
            F.coalesce(F.sum(u[p] * u[q_]), zero).alias(f"__s_{p}{q_}")
        )
    g = (
        df.filter(mask)
        .groupBy(F.col(group_col).alias("__g"))
        .agg(*aggs)
    )
    n = F.col("n")
    nd = n.cast("double")
    stt = _dec38_num("mediation_by", n, F.col("__s_tt"), F.col("__s_t"))
    smm = _dec38_num("mediation_by", n, F.col("__s_mm"), F.col("__s_m"))
    syy = _dec38_num("mediation_by", n, F.col("__s_yy"), F.col("__s_y"))
    stm = _dec38_num(
        "mediation_by", n, F.col("__s_tm"), F.col("__s_t"), F.col("__s_m")
    )
    sty = _dec38_num(
        "mediation_by", n, F.col("__s_ty"), F.col("__s_t"), F.col("__s_y")
    )
    smy = _dec38_num(
        "mediation_by", n, F.col("__s_my"), F.col("__s_m"), F.col("__s_y")
    )
    # slopes: a (m~t), c (y~t); the joint fit y ~ t + m by Cramer
    a = stm / stt
    c = sty / stt
    det = stt * smm - stm * stm
    c_dir = (sty * smm - smy * stm) / det
    b = (stt * smy - stm * sty) / det
    # residual variances (centered moment identities, in the scaled
    # space — scale cancels in every slope/SE ratio below):
    # m~t:    SSR_a = smm − stm²/stt,            dof n−2
    # y~t+m:  SSR_j = syy − c'·sty − b·smy,      dof n−3
    # (the centered moments already absorb the intercepts; both
    # engines evaluate the same IEEE tree)
    ssr_a = smm - stm * stm / stt
    ssr_j = syy - c_dir * sty - b * smy
    var_a = (ssr_a / (nd - F.lit(2.0))) / stt
    var_b = (ssr_j / (nd - F.lit(3.0))) * stt / det
    ind = a * b
    se_ind = F.sqrt(b * b * var_a + a * a * var_b)
    # guards NEST: the outer predicate uses raw moments only (ANSI
    # evaluates when() PREDICATES eagerly, so a derived ratio like c
    # or se_ind in a predicate would divide by a zero stt before the
    # guard can fire); the inner when's predicate is then safe
    ok = (n >= 4) & (stt > 0) & (det > 0)
    return g.select(
        F.col("__g").alias(group_col),
        "n",
        F.when(ok, a).alias("a"),
        F.when(ok, b).alias("b"),
        F.when(ok, c).alias("c"),
        F.when(ok, c_dir).alias("c_direct"),
        F.when(ok, ind).alias("indirect"),
        F.when(ok, F.when(c != 0, ind / c)).alias("prop_mediated"),
        F.when(
            ok, F.when((ssr_a >= 0) & (ssr_j >= 0), se_ind)
        ).alias("se_indirect"),
        F.when(
            ok,
            F.when(
                (ssr_a >= 0) & (ssr_j >= 0) & (se_ind > 0),
                ind / se_ind,
            ),
        ).alias("z_sobel"),
    )


def manski_bounds(
    df: DataFrame,
    y_col: str,
    treat_col: str,
    y_min: float,
    y_max: float,
) -> DataFrame:
    """Manski (1990) worst-case (no-assumption) bounds on the ATE
    under missing outcomes (round-15 pre-build) — the honest
    companion of `lee_bounds`: where Lee assumes monotone selection,
    Manski assumes NOTHING beyond a known outcome range
    ``[y_min, y_max]``; each arm's mean is bracketed by imputing
    every missing outcome at the range's floor or ceiling:

    ``E[y(t)] ∈ [ȳ_t·p_t + y_min·(1−p_t), ȳ_t·p_t + y_max·(1−p_t)]``
    (p_t = observed share in arm t), and
    ``ATE ∈ [lower_1 − upper_0, upper_1 − lower_0]``.

    The bound width is ``(y_max − y_min)·((1−p_1) + (1−p_0))`` —
    reported so callers see exactly what the missingness costs.
    NULL/NaN y is "missing"; an OBSERVED y outside the stated range
    RAISES in-plan (a violated premise must not silently produce
    invalid bounds — the `chi2_gof_by` convention). NULL treatment
    rows drop.

    Scale: ONE map-side-combined aggregation, six scalars out.
    Returns one row: (n_treat, n_ctrl, miss_treat, miss_ctrl,
    lower, upper, width, naive).
    """
    if not y_min < y_max:
        raise ValueError(
            f"manski_bounds: need y_min < y_max (got {y_min}, {y_max})"
        )
    t = F.col(treat_col)
    yv = F.col(y_col)
    obs = yv.isNotNull()
    if dict(df.dtypes).get(y_col) in ("double", "float"):
        obs = obs & ~F.isnan(yv)
    lo, hi = F.lit(float(y_min)), F.lit(float(y_max))
    yg = F.when(
        obs & ((yv < lo) | (yv > hi)),
        F.raise_error(
            F.concat(
                F.lit("manski_bounds: observed outcome outside the"
                      f" stated range [{y_min}, {y_max}]: "),
                yv.cast("string"),
            )
        ).cast("double"),
    ).otherwise(yv.cast("double"))
    base = df.filter(t.isNotNull())
    m = base.agg(
        F.count(F.when(t, 1)).alias("n1"),
        F.count(F.when(~t, 1)).alias("n0"),
        F.count(F.when(t & obs, 1)).alias("m1"),
        F.count(F.when(~t & obs, 1)).alias("m0"),
        F.coalesce(F.sum(F.when(t & obs, yg)), F.lit(0.0)).alias("s1"),
        F.coalesce(F.sum(F.when(~t & obs, yg)), F.lit(0.0)).alias("s0"),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    miss1 = (F.col("n1") - F.col("m1")).cast("double")
    miss0 = (F.col("n0") - F.col("m0")).cast("double")
    lo1 = (F.col("s1") + lo * miss1) / n1d
    hi1 = (F.col("s1") + hi * miss1) / n1d
    lo0 = (F.col("s0") + lo * miss0) / n0d
    hi0 = (F.col("s0") + hi * miss0) / n0d
    ok = (F.col("n1") >= 1) & (F.col("n0") >= 1)
    okn = ok & (F.col("m1") >= 1) & (F.col("m0") >= 1)
    naive = (
        F.col("s1") / F.col("m1").cast("double")
        - F.col("s0") / F.col("m0").cast("double")
    )
    return m.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        miss1.cast("long").alias("miss_treat"),
        miss0.cast("long").alias("miss_ctrl"),
        F.when(ok, lo1 - hi0).alias("lower"),
        F.when(ok, hi1 - lo0).alias("upper"),
        F.when(
            ok, (hi - lo) * (miss1 / n1d + miss0 / n0d)
        ).alias("width"),
        F.when(okn, naive).alias("naive"),
    )


def regression_kink(
    df: DataFrame,
    y: str,
    running: str,
    kink: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-KINK estimate (round-15 pre-build; Card,
    Lee, Pei & Weber 2015) — `rdd`'s derivative sibling: where RDD
    identifies a LEVEL jump at a cutoff, RKD identifies a SLOPE
    change at a kink in a policy formula (benefit schedules, tax
    brackets, ranking-score piecewise rules); the estimand is
    ``b_right − b_left`` with the two local-linear fits CONSTRAINED
    to meet (continuity holds at a kink by construction — the level
    is continuous, only the derivative breaks).

    Same execution shape as `rdd`: within ``|running − kink| <
    bandwidth`` (kink row to the right side, the ≥-rule), ONE
    aggregation with per-side conditional sums; the continuous
    piecewise fit ``y = a + b_l·x⁻ + b_r·x⁺`` (x centered at the
    kink, x⁻ = min(x,0), x⁺ = max(x,0)) solves in closed form by
    the 3×3 normal equations — spelled as the 2×2 Cramer system on
    the centered regressors (the `cuped2_by` convention), so a SQL
    oracle replays it literally. No solver, no second pass. Sides
    with < 2 rows, < 2 DISTINCT running values (gated as per-side
    min < max in the same aggregation — O(1) state, no
    count_distinct expand pass; a one-distinct-x side can keep
    det > 0 through the continuity constraint yet identify no slope
    of its own; ADVICE r14), or det ≤ 0 yield NULL estimates.
    Rows with NULL/NaN y or running drop.

    Returns one row: (kink_effect, slope_left, slope_right,
    intercept, n_left, n_right).
    """
    x = F.col(running) - F.lit(float(kink))
    yv = F.col(y).cast("double")
    ok_row = yv.isNotNull() & F.col(running).isNotNull()
    if dict(df.dtypes).get(y) in ("double", "float"):
        ok_row = ok_row & ~F.isnan(F.col(y))
    if dict(df.dtypes).get(running) in ("double", "float"):
        ok_row = ok_row & ~F.isnan(F.col(running))
    inside = ok_row & (F.abs(x) < F.lit(float(bandwidth)))
    xm = F.when(x < 0, x).otherwise(F.lit(0.0))
    xp = F.when(x >= 0, x).otherwise(F.lit(0.0))
    agg = df.agg(
        F.count(F.when(inside & (x < 0), 1)).alias("n_l"),
        F.count(F.when(inside & (x >= 0), 1)).alias("n_r"),
        # per-side distinct-x gate (ADVICE r14): a side with >= 2
        # rows at a single x keeps det > 0 through the continuity
        # constraint, so the row-count gate alone would emit a slope
        # the side's own data cannot identify. "At least 2 distinct"
        # is exactly min < max — O(1) aggregation state, unlike
        # count_distinct whose expand pass would add a second
        # exchange to this one-shuffle plan (pinned in
        # tests/test_r15_plans.py)
        F.min(F.when(inside & (x < 0), F.col(running))).alias("mn_l"),
        F.max(F.when(inside & (x < 0), F.col(running))).alias("mx_l"),
        F.min(F.when(inside & (x >= 0), F.col(running))).alias("mn_r"),
        F.max(F.when(inside & (x >= 0), F.col(running))).alias("mx_r"),
        F.count(F.when(inside, 1)).alias("n"),
        F.sum(F.when(inside, xm)).alias("s1"),
        F.sum(F.when(inside, xp)).alias("s2"),
        F.sum(F.when(inside, yv)).alias("sy"),
        F.sum(F.when(inside, xm * xm)).alias("s11"),
        F.sum(F.when(inside, xp * xp)).alias("s22"),
        # xm*xp == 0 rowwise, but the CENTERED cross moment is not
        F.sum(F.when(inside, xm * yv)).alias("s1y"),
        F.sum(F.when(inside, xp * yv)).alias("s2y"),
    )
    n = F.col("n").cast("double")
    v11 = n * F.col("s11") - F.col("s1") * F.col("s1")
    v22 = n * F.col("s22") - F.col("s2") * F.col("s2")
    v12 = -F.col("s1") * F.col("s2")  # n*0 - s1*s2
    c1 = n * F.col("s1y") - F.col("s1") * F.col("sy")
    c2 = n * F.col("s2y") - F.col("s2") * F.col("sy")
    det = v11 * v22 - v12 * v12
    b_l = (c1 * v22 - c2 * v12) / det
    b_r = (v11 * c2 - v12 * c1) / det
    a = (F.col("sy") - b_l * F.col("s1") - b_r * F.col("s2")) / n
    ok = (
        (F.col("n_l") >= 2) & (F.col("n_r") >= 2)
        & (F.col("mn_l") < F.col("mx_l"))
        & (F.col("mn_r") < F.col("mx_r"))
        & (det > 0)
    )
    return agg.select(
        F.when(ok, b_r - b_l).alias("kink_effect"),
        F.when(ok, b_l).alias("slope_left"),
        F.when(ok, b_r).alias("slope_right"),
        F.when(ok, a).alias("intercept"),
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
    )


def e_value(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """VanderWeele–Ding (2017) E-value sensitivity analysis for an
    observed risk ratio (round 15) — the "how strong would an
    unmeasured confounder have to be?" readout that turns any
    observational contrast (`ipw_ate`/`aipw_ate`/`psm_att` inputs)
    into an honest robustness statement:

    ``RR = p₁/p₀`` (risk ratio of a binary outcome; RR < 1 uses
    1/RR — the E-value is symmetric about the null),
    ``E = RR* + sqrt(RR*·(RR*−1))`` — the minimum strength of
    association an unmeasured confounder would need with BOTH
    treatment and outcome to explain the estimate away; and the
    same transform applied to the CI limit closer to the null
    (Katz log-RR interval, ``se² = (1−p₁)/(n₁p₁) + (1−p₀)/(n₀p₀)``,
    z = 1.96), clamped to 1 when the interval crosses the null.

    Scale: ONE map-side-combined aggregation to four exact integer
    counters; everything after is a fixed IEEE expression over
    them — fully SQL-spellable. Outcome values must be 0/1
    (boolean or numeric); anything else RAISES in-plan (the
    `chi2_gof_by` convention); NULL outcomes/treatments drop.
    Arms with zero events or zero non-events get NULL RR/E (the
    log-RR se is undefined there), counts always report.

    Returns one row: (n_treat, n_ctrl, s_treat, s_ctrl, rr, rr_lo,
    rr_hi, e_value, e_value_ci).
    """
    from hdfe_spark.operators.stats import _Z_TWOSIDED

    t = F.col(treat_col)
    s = F.col(outcome_col).cast("double")
    sv = F.when(
        s.isNotNull() & ~s.isin(0.0, 1.0),
        F.raise_error(
            F.concat(
                F.lit("e_value: outcome value outside {0,1}: "),
                F.col(outcome_col).cast("string"),
            )
        ).cast("double"),
    ).otherwise(s)
    m = df.filter(t.isNotNull() & s.isNotNull()).agg(
        F.count(F.when(t, 1)).alias("n1"),
        F.coalesce(F.sum(F.when(t, sv)), F.lit(0.0))
        .cast("long").alias("s1"),
        F.count(F.when(~t, 1)).alias("n0"),
        F.coalesce(F.sum(F.when(~t, sv)), F.lit(0.0))
        .cast("long").alias("s0"),
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    s1d, s0d = F.col("s1").cast("double"), F.col("s0").cast("double")
    p1, p0 = s1d / n1d, s0d / n0d
    rr = p1 / p0
    z = F.lit(_Z_TWOSIDED[0.05])
    se = F.sqrt(
        (F.lit(1.0) - p1) / (n1d * p1) + (F.lit(1.0) - p0) / (n0d * p0)
    )
    lo = F.exp(F.log(rr) - z * se)
    hi = F.exp(F.log(rr) + z * se)
    rr_star = F.when(rr >= 1, rr).otherwise(F.lit(1.0) / rr)
    ev = rr_star + F.sqrt(rr_star * (rr_star - F.lit(1.0)))
    # CI limit closer to the null, on the same >= 1 axis
    b = F.when(rr >= 1, lo).otherwise(F.lit(1.0) / hi)
    ev_ci = F.when(
        b <= 1, F.lit(1.0)
    ).otherwise(b + F.sqrt(b * (b - F.lit(1.0))))
    # log-RR inference needs events AND non-events in both arms
    ok = (
        (F.col("s1") >= 1) & (F.col("s0") >= 1)
        & (F.col("s1") < F.col("n1")) & (F.col("s0") < F.col("n0"))
    )
    return m.select(
        F.col("n1").cast("long").alias("n_treat"),
        F.col("n0").cast("long").alias("n_ctrl"),
        F.col("s1").cast("long").alias("s_treat"),
        F.col("s0").cast("long").alias("s_ctrl"),
        F.when(ok, rr).alias("rr"),
        F.when(ok, lo).alias("rr_lo"),
        F.when(ok, hi).alias("rr_hi"),
        F.when(ok, ev).alias("e_value"),
        F.when(ok, ev_ci).alias("e_value_ci"),
    )


def iv_first_stage(
    df: DataFrame,
    x_col: str,
    z_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """First-stage strength diagnostic for the just-identified IV
    (round 15) — the number every `iv_2sls`/`hausman_iv` readout
    must be accompanied by, because a weak instrument makes 2SLS
    biased TOWARD OLS exactly when the test matters (Staiger–Stock
    1997; the F < 10 rule of thumb):

    ``π = S_xz/S_zz`` (first-stage slope),
    ``R² = S_xz²/(S_zz·S_xx)``,
    ``F = (n−2)·R²/(1−R²)`` (the squared first-stage t).

    Engine-exact per the `welch_by` convention: the (x, z) moments
    are exact DECIMAL(38,0) sums of ``round(v·scale)`` with
    EXACT-decimal centered numerators ``n·s_ab − s_a·s_b``
    (`_dec38_num` overflow-guarded) — the common ``scale`` cancels
    in R² and F and divides out of π only through the moment ratio,
    so both engines evaluate one identical IEEE tree. Degenerate
    inputs (n < 3, zero z-variance, zero x-variance, or R² = 1) get
    NULL inference, never a poisoned row. NULL/NaN x/z rows drop
    (one shared listwise mask — the r13 moment discipline).

    Scale: ONE map-side-combined aggregation, five scalars out.
    Returns one row: (n, pi, r2, f_stat, weak) — ``weak`` is the
    F < 10 flag.
    """
    from hdfe_spark.operators.stats import _dec38_num, _non_nan

    if x_col == z_col:
        raise ValueError("iv_first_stage: x and z must differ")
    mask = _non_nan(df, x_col) & _non_nan(df, z_col)
    ux = F.round(F.col(x_col) * F.lit(float(scale))).cast("decimal(38,0)")
    uz = F.round(F.col(z_col) * F.lit(float(scale))).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    m = df.filter(mask).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(ux), zero).alias("__sx"),
        F.coalesce(F.sum(uz), zero).alias("__sz"),
        F.coalesce(F.sum(ux * ux), zero).alias("__sxx"),
        F.coalesce(F.sum(uz * uz), zero).alias("__szz"),
        F.coalesce(F.sum(ux * uz), zero).alias("__sxz"),
    )
    n = F.col("n")
    nd = n.cast("double")
    sxx = _dec38_num("iv_first_stage", n, F.col("__sxx"), F.col("__sx"))
    szz = _dec38_num("iv_first_stage", n, F.col("__szz"), F.col("__sz"))
    sxz = _dec38_num(
        "iv_first_stage", n, F.col("__sxz"), F.col("__sz"), F.col("__sx")
    )
    pi = sxz / szz
    r2 = (sxz * sxz) / (szz * sxx)
    f_ = (nd - F.lit(2.0)) * r2 / (F.lit(1.0) - r2)
    ok = (n >= 3) & (szz > 0) & (sxx > 0)
    okf = ok & (szz * sxx > sxz * sxz)
    return m.select(
        n.cast("long").alias("n"),
        F.when(ok, pi).alias("pi"),
        F.when(ok, r2).alias("r2"),
        F.when(okf, f_).alias("f_stat"),
        F.when(okf, f_ < 10.0).alias("weak"),
    )


def sun_abraham(
    df: DataFrame,
    y: str,
    period: str,
    first_treated: str,
) -> DataFrame:
    """Interaction-weighted dynamic event-study estimates (round-16
    pre-build; Sun & Abraham 2021) — the heterogeneity-robust
    replacement for the classic event-study regression: with
    staggered adoption and cohort-varying effects, the TWFE
    lead/lag coefficients mix effects across relative periods with
    possibly negative weights; the IW estimator instead averages
    the clean Callaway–Sant'Anna cohort-time cells WITHIN each
    relative period, weighted by cohort cell size:

    ``ν(l) = Σ_g w_{g,l} · ATT(g, g+l)``,
    ``w_{g,l} = n_treat(g, g+l) / Σ_g' n_treat(g', g'+l)``.

    Delegates the cell surface to `att_gt` outright (never-treated
    control pool, g−1 anchor, the try_cast raise guard, the
    only-identified-cells absence convention — all inherited), so
    this op covers the POST-treatment dynamic path l ≥ 0 that
    att_gt's cells span; pre-period placebos are the `event_study`
    operator's job.

    Scale: att_gt's one fact-table groupBy + broadcast self-joins,
    then ONE aggregation over the cohort×period cell table (tiny by
    construction). Returns one row per relative period l:
    (rel_period, att_iw, n_treat, n_cohorts).
    """
    cells = att_gt(df, y, period, first_treated)
    w = F.col("n_treat").cast("double")
    return cells.groupBy(
        (F.col("t") - F.col("g")).cast("long").alias("rel_period")
    ).agg(
        (F.sum(w * F.col("att")) / F.sum(w)).alias("att_iw"),
        F.sum("n_treat").cast("long").alias("n_treat"),
        F.count(F.lit(1)).cast("long").alias("n_cohorts"),
    )


def pretrends(
    df: DataFrame,
    y: str,
    period: str,
    first_treated: str,
) -> DataFrame:
    """Parallel-trends diagnostic for staggered DiD (round-16
    pre-build; the Roth 2022 "pre-test" readout) — the number every
    `att_gt`/`sun_abraham` table must be read against: the
    cohort-size-weighted OLS slope of the PLACEBO group-time cells
    (``att_gt(side="pre")`` — the same four-mean contrast at
    t < g−1, identically zero in expectation under parallel trends)
    on relative time, with homoskedastic inference:

    ``slope = Σw(r−r̄)(att−ātt) / Σw(r−r̄)²``  (w = cell n_treat,
    r = t − g), ``se² = (Σw·e²/(W−2)·W/n_cells) / Σw(r−r̄)²`` with
    the weighted RSS identity — a drifting slope says the "effects"
    in the post table are partly trend.

    Scale: att_gt's one fact-table groupBy + broadcast self-joins,
    then ONE aggregation over the tiny placebo cell table. Fewer
    than 3 placebo cells, or zero relative-time variance, yields
    NULL inference (counts still report).

    Returns one row: (n_cells, n_treat, mean_placebo, slope, se,
    z).
    """
    cells = att_gt(df, y, period, first_treated, side="pre")
    w = F.col("n_treat").cast("double")
    r = (F.col("t") - F.col("g")).cast("double")
    a = F.col("att")
    m = cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.coalesce(F.sum(w), F.lit(0.0)).alias("W"),
        F.coalesce(F.sum(w * r), F.lit(0.0)).alias("swr"),
        F.coalesce(F.sum(w * a), F.lit(0.0)).alias("swa"),
        F.coalesce(F.sum(w * r * r), F.lit(0.0)).alias("swrr"),
        F.coalesce(F.sum(w * r * a), F.lit(0.0)).alias("swra"),
        F.coalesce(F.sum(w * a * a), F.lit(0.0)).alias("swaa"),
    )
    W = F.col("W")
    vx = W * F.col("swrr") - F.col("swr") * F.col("swr")
    cxy = W * F.col("swra") - F.col("swr") * F.col("swa")
    vy = W * F.col("swaa") - F.col("swa") * F.col("swa")
    slope = cxy / vx
    nc = F.col("n_cells").cast("double")
    # weighted RSS in the W-scaled space, dof n_cells - 2 (cells are
    # the observations; w only weights them)
    rss = (vy - slope * cxy) / W
    var_s = (rss / (nc - F.lit(2.0))) * W / nc / (vx / W)
    # guards NEST (the mediation_by ANSI discipline): the outer
    # predicate uses raw moments only — a derived ratio like slope
    # in a PREDICATE would divide 0/0 before the guard can fire
    # under ANSI — and the inner when's predicate is then safe
    ok = (F.col("n_cells") >= 3) & (vx > 0)
    se = F.sqrt(var_s)
    return m.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        W.cast("long").alias("n_treat"),
        F.when(W > 0, F.col("swa") / W).alias("mean_placebo"),
        F.when(ok, slope).alias("slope"),
        F.when(
            ok, F.when(vy - slope * cxy >= 0, se)
        ).alias("se"),
        F.when(
            ok,
            F.when((vy - slope * cxy >= 0) & (se > 0), slope / se),
        ).alias("z"),
    )


def rdd_sensitivity(
    df: DataFrame,
    y: str,
    running: str,
    cutoff: float,
    bandwidths: "Sequence[float]",
) -> DataFrame:
    """RDD bandwidth-sensitivity panel (round-16 pre-build) — the
    robustness readout every discontinuity analysis reports: the
    `rdd` local-linear effect re-estimated at EVERY requested
    bandwidth, so a reviewer sees whether the jump is a feature of
    the data or of one tuning choice (the Imbens–Lemieux
    "vary h and look" protocol).

    Scale: ONE aggregation carries every bandwidth's per-side
    conditional moment block (each is `rdd`'s five sums under a
    tighter |x| < h predicate — the widest band's scan covers them
    all, so cost is one pass regardless of how many bandwidths);
    the per-bandwidth closed-form finish is `rdd`'s expression
    verbatim, emitted in long form via an explode over structs (the
    `local_projections` shape). Same conventions as `rdd`: the
    cutoff row belongs to the right side (≥-rule), NULL outcome or
    running rows contribute nowhere, a side with zero x-variance
    yields NULL estimates for that bandwidth only.

    Returns one row per bandwidth: (bandwidth, effect, slope_left,
    slope_right, n_left, n_right).
    """
    hs = [float(h) for h in bandwidths]
    if not hs or any(h <= 0 for h in hs):
        raise ValueError(
            "rdd_sensitivity: bandwidths must be a non-empty list of"
            f" positive numbers, got {list(bandwidths)!r}"
        )
    if len(set(hs)) != len(hs):
        raise ValueError("rdd_sensitivity: duplicate bandwidths")
    x = F.col(running) - F.lit(float(cutoff))
    yv = F.col(y)
    aggs = []
    for i, h in enumerate(hs):
        inside = (F.abs(x) < F.lit(h)) & yv.isNotNull()
        for tag, cond in (("l", inside & (x < 0)),
                          ("r", inside & (x >= 0))):
            aggs += [
                F.count(F.when(cond, F.lit(1))).alias(f"n_{tag}_{i}"),
                F.sum(F.when(cond, x)).alias(f"sx_{tag}_{i}"),
                F.sum(F.when(cond, yv)).alias(f"sy_{tag}_{i}"),
                F.sum(F.when(cond, x * x)).alias(f"sxx_{tag}_{i}"),
                F.sum(F.when(cond, x * yv)).alias(f"sxy_{tag}_{i}"),
            ]
    m = df.agg(*aggs)
    rows = []
    for i, h in enumerate(hs):
        def _fit(tag):
            n = F.col(f"n_{tag}_{i}").cast("double")
            sx, sy = F.col(f"sx_{tag}_{i}"), F.col(f"sy_{tag}_{i}")
            sxx, sxy = F.col(f"sxx_{tag}_{i}"), F.col(f"sxy_{tag}_{i}")
            den = n * sxx - sx * sx
            b = F.when(den > 0, (n * sxy - sx * sy) / den)
            a = sy / n - b * (sx / n)
            return a, b

        a_l, b_l = _fit("l")
        a_r, b_r = _fit("r")
        rows.append(F.struct(
            F.lit(h).alias("bandwidth"),
            (a_r - a_l).alias("effect"),
            b_l.alias("slope_left"),
            b_r.alias("slope_right"),
            F.col(f"n_l_{i}").cast("long").alias("n_left"),
            F.col(f"n_r_{i}").cast("long").alias("n_right"),
        ))
    return m.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.bandwidth", "__r.effect", "__r.slope_left",
        "__r.slope_right", "__r.n_left", "__r.n_right",
    )
