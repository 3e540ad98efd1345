"""Distributed least squares with high-dimensional fixed effects.

Reference parity: ``estimate`` (``hdfe/hdfe.py:49-181``) — strategy
dispatch, three physical plans, optional rank repair, residuals,
homoskedastic and cluster-robust variance.

Plans (picked exactly like the reference's dispatch,
``hdfe/hdfe.py:66,73,121``):

- **Plan A ("pooled")** — no fixed effects: solve the normal equations
  from a one-pass distributed Gram ``(X'X, X'y)``; k×k solve on the
  driver. Replaces the reference's driver-sized ``np.linalg.lstsq``
  (``hdfe/hdfe.py:66-71``) with a single aggregation over any data
  size. Multi-outcome y handled in the same pass.
- **Plan B ("within")** — 1 FE (or ``within_if_fe=True``): the
  Frisch–Waugh–Lovell rewrite (``hdfe/hdfe.py:73-120``). FEs #2+
  become drop-last dummy columns appended to x; x is demeaned within
  FE#1 by a window aggregate; slopes solve from the demeaned Gram
  (``X̃'y = X̃'ỹ`` since ``X̃ ⊥`` the group-mean projection — the
  reference exploits the same identity by regressing raw y on
  demeaned x); FE#1 effects recovered as group means of residuals
  (``hdfe/hdfe.py:107-116``), then netted out of the residual.
- **Plan C ("alternating")** — ≥2 FEs with ``within_if_fe=False``:
  where the reference materializes ALL dummy blocks and runs
  single-node LSQR (``hdfe/hdfe.py:121-144``), the scale path is
  **alternating-projection demeaning** (Guimarães & Portugal 2010 /
  the reghdfe algorithm): iteratively sweep window-demeaning over
  each FE until group means vanish, then solve the k×k demeaned Gram.
  Slope coefficients equal the reference's (they are uniquely
  identified); FE effects are recovered per-FE and are identified
  only up to additive constants (the reference's LSQR min-norm
  normalization differs — documented deviation).

Every data-sized computation is one of: a window aggregate (shuffle on
the FE key), a grouped aggregate (shuffle on FE/cluster key with
map-side partials), or the Gram aggregation (map-side partial k×k
fan-in). Only k×k / (levels×k) matrices reach the driver.

Variance (``hdfe/hdfe.py:147-181``):

- homoskedastic ``V = σ̂²(X'X)⁻¹``, dof ``n - k_total``
  (``hdfe/hdfe.py:176-179``); for the within plan, ``(X'X)⁻¹`` of the
  full design ``[D₁|x]`` is computed blockwise via the Schur
  complement (the Schur complement of the dummy block is exactly the
  demeaned Gram), so no ``levels×levels`` dense inverse is formed
  unless FE-coefficient covariances are explicitly requested with a
  small level count.
- cluster-robust (Liang–Zeger sandwich, ``hdfe/hdfe.py:159-175``):
  per-cluster scores ``u_g = X_g'e_g`` via one grouped aggregation,
  then the meat ``Σ u_g u_g'`` reduced DISTRIBUTED in a second
  aggregation — only k(k+1)/2 doubles per outcome reach the driver,
  never an n_clusters-sized matrix. ``cluster=[a, b]`` gives the
  two-way CGM variance ``M_a + M_b − M_{a∩b}`` (three such passes).

Note: the reference's Plan-A ``estimate_variance=True`` path is broken
(``x.A`` on ndarray, ``hdfe/hdfe.py:155`` — SURVEY.md §4); this engine
supports it properly.
"""

from __future__ import annotations

from collections.abc import Sequence

import os as _os_env
import re as _re

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdfe_spark.operators.collinearity import (
    find_collinear_cols_gram,
    gram_matrix,
)
from hdfe_spark.operators.encoding import make_dummies


def _as_list(x) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _and_complete(valid, df: DataFrame, cols) -> "F.Column":
    """AND onto ``valid`` the complete-value predicate for ``cols``:
    non-NULL, and for double/float columns additionally non-NaN.

    NaN passes ``isNotNull`` but poisons every moment sum it touches
    (ADVICE r13) — the moment estimators (`wls`, `iv_2sls`,
    `fit_stats`, `wls_within`) must treat it as missing, exactly as
    ``dml_plm`` does (causal.py).  One shared mask per estimator keeps
    the listwise-deletion contract: every sum AND ``n`` gate on the
    same rows.
    """
    dtypes = dict(df.dtypes)
    for c in cols:
        valid = valid & F.col(c).isNotNull()
        if dtypes.get(c) in ("double", "float"):
            valid = valid & ~F.isnan(F.col(c))
    return valid


def _null_nan_flags(df: DataFrame, cols, prefix: str = "__bad") -> list:
    """``max(isNull | isnan)`` rider expressions for ``cols`` — the
    same dtype-sensitive missing-value rule as ``_and_complete``, as
    aggregate flags the moment fast paths use to decide fallback
    (one shared definition; review r15)."""
    dtypes = dict(df.dtypes)
    out = []
    for i, c in enumerate(cols):
        flag = F.col(c).isNull()
        if dtypes.get(c) in ("double", "float"):
            flag = flag | F.isnan(F.col(c))
        out.append(F.max(flag.cast("int")).alias(f"{prefix}_{i}"))
    return out


def _solve(G: np.ndarray, Xty: np.ndarray) -> np.ndarray:
    """Min-norm solve of ``G b = X'y`` (rank-deficient safe)."""
    b, *_ = np.linalg.lstsq(G, Xty, rcond=None)
    return b


class EstimateResult:
    """Everything ``estimate`` can return.

    ``b`` rows align with ``coef_names``: for the within plan the FE#1
    effects come first (levels in sorted order, matching the
    reference's factorized-code ordering, ``hdfe/hdfe.py:114-116``),
    then slope coefficients.

    The FE block of ``b`` is **lazy**: for the within plan, accessing
    ``b`` / ``coef_names`` triggers one levels-sized driver collect of
    the (already computed) per-level FE table. ``slopes`` and
    ``fixed_effects`` (a DataFrame per FE) never collect levels to the
    driver, so slopes-only callers stay OOM-safe with 10⁸-level FEs.
    """

    def __init__(
        self,
        *,
        x_cols: list[str],
        plan: str,
        n: int,
        b: np.ndarray | None = None,
        coef_names: list[str] | None = None,
        slopes: np.ndarray | None = None,
        lazy_fe=None,  # () -> (b_full, coef_names)
        lazy_tables=None,  # () -> (fixed_effects dict, residuals DF)
        fixed_effects: dict[str, DataFrame] | None = None,
        residuals: DataFrame | None = None,
        V: list[np.ndarray] | None = None,
        v_coef_names: list[str] | None = None,
    ):
        self.x_cols = x_cols
        self.plan = plan
        self.n = n
        self._b = b
        self._coef_names = coef_names
        self._slopes = slopes
        self._lazy_fe = lazy_fe
        self._lazy_tables = lazy_tables
        self._fixed_effects = fixed_effects
        self._residuals = residuals
        self.V = V
        self.v_coef_names = v_coef_names

    def _materialize(self) -> None:
        if self._b is None and self._lazy_fe is not None:
            self._b, self._coef_names = self._lazy_fe()

    def _build_tables(self) -> None:
        # Deferred construction, not just deferred execution: even an
        # eager=False localCheckpoint runs its plan's query stages at
        # CREATION under AQE, so the recovery pipeline's DataFrames
        # must not exist until someone asks for them.
        if self._lazy_tables is not None:
            fe, resid = self._lazy_tables()
            self._lazy_tables = None
            if self._fixed_effects is None:
                self._fixed_effects = fe
            if self._residuals is None:
                self._residuals = resid

    @property
    def fixed_effects(self) -> dict[str, DataFrame]:
        self._build_tables()
        return self._fixed_effects or {}

    @fixed_effects.setter
    def fixed_effects(self, v) -> None:
        self._fixed_effects = v

    @property
    def residuals(self) -> DataFrame | None:
        self._build_tables()
        return self._residuals

    @residuals.setter
    def residuals(self, v) -> None:
        self._residuals = v

    @property
    def b(self) -> np.ndarray:  # (k_coefs, n_outcomes)
        self._materialize()
        return self._b

    @property
    def coef_names(self) -> list[str]:
        self._materialize()
        return self._coef_names

    @property
    def slopes(self) -> np.ndarray:
        """Slope-coefficient block of ``b`` (drops FE effects).
        Never triggers the FE collect."""
        if self._slopes is not None:
            return self._slopes
        b = self.b
        return b[-len(self.x_cols):, :] if self.x_cols else b[:0, :]


def _append_residuals(
    df: DataFrame, y_cols: list[str], x_cols: list[str], b: np.ndarray
) -> DataFrame:
    """``resid_y = y - Σ b_i x_i`` as one narrow projection (b is a
    driver-side k×m literal folded into the plan — no join)."""
    exprs = []
    for j, yc in enumerate(y_cols):
        pred = None
        for i, xc in enumerate(x_cols):
            term = F.col(xc) * F.lit(float(b[i, j]))
            pred = term if pred is None else pred + term
        resid = F.col(yc) - pred if pred is not None else F.col(yc)
        exprs.append(resid.alias(f"resid_{yc}"))
    return df.select("*", *exprs)


def _sum_sq(df: DataFrame, cols: list[str]) -> np.ndarray:
    row = df.agg(*[F.sum(F.col(c) * F.col(c)).alias(c) for c in cols]).collect()[0]
    return np.array([float(row[c]) if row[c] is not None else 0.0 for c in cols])


def _cluster_meat(
    df: DataFrame, keys: list[str], resid_cols: list[str], x_cols: list[str]
) -> dict[str, np.ndarray]:
    """Sandwich meat ``Σ_g u_g u_g'`` with ``u_g = Σ_{i∈g} e_i·x_i``,
    fully distributed (``hdfe/hdfe.py:159-173`` runs a Python loop per
    outcome over a driver-resident scores matrix): stage 1 is ONE
    grouped aggregation producing the per-cluster scores for every
    outcome × regressor, stage 2 reduces their upper-triangle cross
    products, so only k(k+1)/2 doubles per outcome reach the driver —
    never an n_clusters-sized collect, which at 100 TB (billions of
    clusters) would not fit. Returns {outcome: (k × k) ndarray}."""
    k = len(x_cols)
    u_exprs = []
    for rc in resid_cols:
        for xc in x_cols:
            u_exprs.append(F.sum(F.col(rc) * F.col(xc)).alias(f"__u_{rc}__{xc}"))
    grouped = df.groupBy(*[F.col(c) for c in keys]).agg(*u_exprs)
    m_exprs = []
    for rc in resid_cols:
        for i in range(k):
            for j in range(i, k):
                m_exprs.append(
                    F.sum(
                        F.coalesce(F.col(f"__u_{rc}__{x_cols[i]}"), F.lit(0.0))
                        * F.coalesce(F.col(f"__u_{rc}__{x_cols[j]}"), F.lit(0.0))
                    ).alias(f"__m_{rc}_{i}_{j}")
                )
    row_df = grouped.agg(*m_exprs)
    row = row_df.collect()[0]
    out = {}
    for rc in resid_cols:
        M = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                v = row[f"__m_{rc}_{i}_{j}"]
                M[i, j] = M[j, i] = 0.0 if v is None else float(v)
        out[rc] = M
    return out


def _cluster_meat_multiway(
    df: DataFrame, cluster: list[str], resid_cols: list[str], x_cols: list[str]
) -> dict[str, np.ndarray]:
    """One- or two-way cluster-robust meat. One-way is ``_cluster_meat``
    on the single key. Two-way is Cameron–Gelbach–Miller (2011):
    ``M = M_a + M_b − M_{a∩b}`` (inclusion–exclusion over the two
    clustering dimensions; the intersection term groups on the key
    PAIR). Three grouped aggregations, each reduced distributed to a
    k×k driver result. The CGM variance is not guaranteed PSD — callers
    that take sqrt of the diagonal should clamp at 0."""
    if len(cluster) == 1:
        return _cluster_meat(df, cluster, resid_cols, x_cols)
    if len(cluster) != 2:
        raise ValueError(
            f"cluster supports 1 or 2 dimensions, got {len(cluster)}"
        )
    m_a = _cluster_meat(df, [cluster[0]], resid_cols, x_cols)
    m_b = _cluster_meat(df, [cluster[1]], resid_cols, x_cols)
    m_ab = _cluster_meat(df, cluster, resid_cols, x_cols)
    return {rc: m_a[rc] + m_b[rc] - m_ab[rc] for rc in resid_cols}


def _homoskedastic_V(
    G_inv: np.ndarray, rss: np.ndarray, n: int, k_total: int
) -> list[np.ndarray]:
    dof = max(n - k_total, 1)
    return [G_inv * (float(es) / dof) for es in rss]


def _hc1_meat(
    df: DataFrame,
    resid_cols: list[str],
    x_cols: list[str],
) -> dict[str, np.ndarray]:
    """White/HC1 sandwich 'meat' ``Σᵢ eᵢ² xᵢxᵢ'`` for every outcome in
    ONE fused aggregation — k(k+1)/2 upper-triangle sums per outcome,
    map-side partials, a k²-sized driver result. The per-row version
    of ``_cluster_meat`` (each row its own cluster) WITHOUT the
    shuffle that grouping by a row id would imply. Returns
    {outcome: (k × k) ndarray}."""
    k = len(x_cols)
    exprs = []
    for rc in resid_cols:
        e2 = F.col(rc) * F.col(rc)
        for i in range(k):
            for j in range(i, k):
                exprs.append(
                    F.sum(e2 * F.col(x_cols[i]) * F.col(x_cols[j])).alias(
                        f"__m_{rc}_{i}_{j}"
                    )
                )
    row = df.agg(*exprs).collect()[0]
    out = {}
    for rc in resid_cols:
        M = np.zeros((k, k))
        for i in range(k):
            for j in range(i, k):
                M[i, j] = M[j, i] = float(row[f"__m_{rc}_{i}_{j}"] or 0.0)
        out[rc] = M
    return out


def estimate(
    df: DataFrame,
    y: str | Sequence[str],
    x: str | Sequence[str],
    categorical_controls: Sequence[str] | None = None,
    check_rank: bool = False,
    estimate_variance: bool = False,
    get_residual: bool = False,
    cluster: str | Sequence[str] | None = None,
    robust: bool = False,
    tol: float = 1e-9,
    within_if_fe: bool = True,
    ap_tol: float = 1e-8,
    ap_max_iter: int = 100,
) -> EstimateResult:
    """Distributed analogue of reference ``estimate``
    (``hdfe/hdfe.py:49-181``). ``y``/``x`` are column names in ``df``.

    Variance menu (``estimate_variance=True``): homoskedastic
    (default, reference parity), ``cluster=<col>`` Liang–Zeger
    cluster-robust (reference parity), ``cluster=[a, b]`` two-way
    cluster-robust (Cameron–Gelbach–Miller inclusion–exclusion —
    beyond-reference), or ``robust=True`` White/HC1
    heteroskedasticity-robust — beyond-reference, completing the
    standard sandwich family. ``robust`` and ``cluster`` are mutually
    exclusive (cluster-robust already nests HC within clusters).
    """
    y_cols = _as_list(y)
    x_cols = list(_as_list(x))
    cc = list(categorical_controls or [])
    if cluster is not None:
        cluster = _as_list(cluster)
        if not 1 <= len(cluster) <= 2:
            raise ValueError(
                f"cluster supports 1 or 2 dimensions, got {len(cluster)}"
            )
        if len(set(cluster)) != len(cluster):
            raise ValueError("cluster dimensions must be distinct columns")
    if robust and cluster is not None:
        raise ValueError("robust=True and cluster are mutually exclusive")
    want_resid = get_residual or estimate_variance or cluster is not None

    if not cc:
        return _plan_pooled(
            df, y_cols, x_cols, check_rank, estimate_variance,
            want_resid, get_residual, cluster, robust, tol,
        )
    if len(cc) == 1 or within_if_fe:
        return _plan_within(
            df, y_cols, x_cols, cc, check_rank, estimate_variance,
            want_resid, get_residual, cluster, robust, tol,
        )
    return _plan_alternating(
        df, y_cols, x_cols, cc, check_rank, estimate_variance,
        want_resid, get_residual, cluster, robust, tol, ap_tol, ap_max_iter,
    )


# ---------------------------------------------------------------- Plan A

# Widest regressor block the one-pass cluster-sandwich path will fuse:
# the second-level aggregation carries O(k⁴) product sums.
_CLUSTER_FAST_MAX_K = int(_os_env.environ.get("HDFE_CLUSTER_FAST_MAX_K", 4))


def _tensor_agg_exprs(k: int, extra: list | None = None) -> list:
    """Second-level aggregation over a cluster-moment table (columns
    ``__w``, ``__xx_{j}_{l}`` upper triangle, ``__xy_{i}``): global
    moments G/X'y/n plus the meat tensors A = ΣXy⊗Xy, B = ΣXy⊗XX,
    C = ΣXX⊗XX as upper-triangle product sums. ``extra`` exprs (e.g.
    NULL/NaN rider flags) are placed right after ``__n`` so the
    one-way path's committed plan shape is unchanged."""
    P = [(j, l) for j in range(k) for l in range(j, k)]
    return [
        F.sum("__w").alias("__n"),
        *(extra or []),
        *[F.sum(f"__xx_{j}_{l}").alias(f"__g_{j}_{l}") for j, l in P],
        *[F.sum(f"__xy_{i}").alias(f"__t_{i}") for i in range(k)],
        *[
            F.sum(F.col(f"__xy_{i}") * F.col(f"__xy_{j}")).alias(f"__a_{i}_{j}")
            for i in range(k)
            for j in range(i, k)
        ],
        *[
            F.sum(F.col(f"__xy_{i}") * F.col(f"__xx_{j}_{l}")).alias(
                f"__b_{i}_{j}_{l}"
            )
            for i in range(k)
            for j, l in P
        ],
        *[
            F.sum(
                F.col(f"__xx_{P[p][0]}_{P[p][1]}")
                * F.col(f"__xx_{P[q][0]}_{P[q][1]}")
            ).alias(f"__c_{p}_{q}")
            for p in range(len(P))
            for q in range(p, len(P))
        ],
    ]


def _tensors_from_row(row, k: int):
    """Unpack a ``_tensor_agg_exprs`` result row into
    ``(n, G, Xty, A, B, C)`` dense symmetric ndarrays."""
    P = [(j, l) for j in range(k) for l in range(j, k)]

    def _f(name):
        v = row[name]
        return 0.0 if v is None else float(v)

    n = int(row["__n"] or 0)
    G = np.zeros((k, k))
    for j, l in P:
        G[j, l] = G[l, j] = _f(f"__g_{j}_{l}")
    Xty = np.array([[_f(f"__t_{i}")] for i in range(k)])
    A = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            A[i, j] = A[j, i] = _f(f"__a_{i}_{j}")
    B = np.zeros((k, k, k))  # B[i, j, l] = Σ_g Xy_i · XX_jl
    for i in range(k):
        for j, l in P:
            B[i, j, l] = B[i, l, j] = _f(f"__b_{i}_{j}_{l}")
    C = np.zeros((k, k, k, k))  # C[j, l, p, q] = Σ_g XX_jl · XX_pq
    for pi in range(len(P)):
        for qi in range(pi, len(P)):
            (j, l), (p, q) = P[pi], P[qi]
            v = _f(f"__c_{pi}_{qi}")
            for (a1, b1) in ((j, l), (l, j)):
                for (a2, b2) in ((p, q), (q, p)):
                    C[a1, b1, a2, b2] = v
                    C[a2, b2, a1, b1] = v
    return n, G, Xty, A, B, C


def _meat_from_tensors(A, B, C, bv):
    """Assemble ``Σ_g u_g u_g'`` from the moment tensors at the fitted
    slope vector ``bv``; returns None when the cancellation guards
    fail (< ~8 safe digits against the positive parts of the
    expansion, or a negative diagonal — Σu² cannot be negative)."""
    # meat_ij = A_ij − (Bb)_ij − (Bb)_ji + (b'Cb)_ij  with
    # (Bb)_ij = Σ_l B[i,j,l]·b_l, (b'Cb)_ij = Σ_lp b_l·C[i,l,j,p]·b_p
    M1 = np.einsum("ijl,l->ij", B, bv)
    M2 = np.einsum("iljp,l,p->ij", C, bv, bv)
    meat = A - M1 - M1.T + M2
    ku = len(bv)
    # Cancellation guard: the expansion subtracts O((X'y)²)-sized
    # terms to reach an O(u²)-sized result — when a diagonal keeps
    # < ~8 safe digits against the positive parts, discard and let
    # the caller run the exact scores path.
    for i in range(ku):
        pos = A[i, i] + 2.0 * abs(M1[i, i]) + abs(M2[i, i])
        if pos > 0.0 and not meat[i, i] > pos * 1e-8:
            return None
    # Off-diagonal digits guard (review r15): an off-diagonal entry's
    # error bound is 1e-16·pos_ij; require it small against the PSD
    # bound sqrt(meat_ii·meat_jj) so V's assembled entries keep ~8
    # safe digits everywhere, not just on the diagonal.
    for i in range(ku):
        for j in range(i + 1, ku):
            pos = (
                abs(A[i, j]) + abs(M1[i, j]) + abs(M1[j, i]) + abs(M2[i, j])
            )
            if pos > 0.0 and not (
                np.sqrt(max(meat[i, i], 0.0) * max(meat[j, j], 0.0))
                > pos * 1e-8
            ):
                return None
    return meat


def _pooled_cluster_onepass(df, y_col, x_cols, cluster_key, check_rank, tol):
    """One-way cluster-robust pooled OLS in ONE full-data pass.

    The sandwich meat ``Σ_g u_g u_g'`` with ``u_g = X_g'y − X_g'X_g b``
    is a polynomial in the per-cluster moment blocks ``(X_g'X_g,
    X_g'y)`` and the global ``b`` — so ONE groupBy(cluster) moment
    aggregation followed by ONE cluster-table reduction of the moment
    *products* delivers G, X'y, n AND the three meat tensors
    (A = ΣXy⊗Xy, B = ΣXy⊗XX, C = ΣXX⊗XX); b and the meat then
    assemble on the driver. Replaces the two full-data passes (Gram,
    then per-cluster scores at the fitted b) with one (guide §1.2:
    fewer passes; at 100 TB this halves the scan bytes of every
    clustered-SE call).

    Returns None — caller falls back to the two-pass path, preserving
    the exact pre-optimization behavior — when any (x, y) column
    carries NULL/NaN (the two-pass path's row-wise residual NULL
    semantics are not reproduced by per-entry moment sums) or when the
    expanded meat fails the cancellation guard (< ~8 safe digits
    against the positive parts of the expansion).
    """
    k = len(x_cols)
    P = [(j, l) for j in range(k) for l in range(j, k)]
    xv = [F.col(c).cast("double") for c in x_cols]
    yv = F.col(y_col).cast("double")
    bad_flags = _null_nan_flags(df, list(x_cols) + [y_col])

    g1 = df.groupBy(cluster_key).agg(
        F.count(F.lit(1)).alias("__w"),
        *[F.sum(xv[j] * xv[l]).alias(f"__xx_{j}_{l}") for j, l in P],
        *[F.sum(xv[i] * yv).alias(f"__xy_{i}") for i in range(k)],
        *bad_flags,
    )
    row = g1.agg(
        *_tensor_agg_exprs(
            k,
            extra=[
                F.max(f"__bad_{i}").alias(f"__bad_{i}") for i in range(k + 1)
            ],
        )
    )
    row = row.collect()[0]

    if any(int(row[f"__bad_{i}"] or 0) for i in range(k + 1)):
        return None
    n, G, Xty, A, B, C = _tensors_from_row(row, k)

    idx = list(range(k))
    x_used = list(x_cols)
    if check_rank:
        ci, ki = find_collinear_cols_gram(G, tol=tol)
        if ci:
            idx = ki
            x_used = [x_cols[i] for i in ki]
            G = G[np.ix_(ki, ki)]
            Xty = Xty[ki, :]
    A = A[np.ix_(idx, idx)]
    B = B[np.ix_(idx, idx, idx)]
    C = C[np.ix_(idx, idx, idx, idx)]

    b = _solve(G, Xty)
    meat = _meat_from_tensors(A, B, C, b[:, 0])
    if meat is None:
        return None
    G_inv = np.linalg.pinv(G)
    res = EstimateResult(
        b=b, coef_names=list(x_used), x_cols=list(x_used),
        plan="pooled", n=n,
    )
    res.V = [G_inv @ meat @ G_inv]
    res.v_coef_names = list(x_used)
    return res


def _pooled_cluster2_onepass(df, y_col, x_cols, key_a, key_b, check_rank, tol):
    """Two-way (Cameron–Gelbach–Miller) cluster-robust pooled OLS with
    ONE full-data pass (optimization r15, guide §1.2 "fewer passes").

    The exact path costs FOUR full-data scans: the Gram pass, then a
    per-cluster score aggregation at the fitted b for each of the three
    CGM groupings (a, b, a∩b). But every per-dimension moment block is
    an ADDITIVE roll-up of the pair-level blocks — ``X_a'X_a =
    Σ_b X_{ab}'X_{ab}`` — so one ``groupBy(a, b)`` moment pass,
    persisted (|a×b| rows × k(k+3)/2+1 doubles — the cluster table,
    never the data), supports all three meat computations: a pair-level
    tensor reduction and two re-aggregation reductions, each over the
    pair table only. b solves from the same pass's global moments; the
    three meats assemble on the driver; ``M = M_a + M_b − M_ab``.

    Returns None — caller falls back to the exact four-pass path — when
    any (x, y) column carries NULL/NaN (row-wise residual NULL
    semantics are not reproduced by per-entry moment sums) or when ANY
    of the three meats fails the cancellation guard (each is a Σuu' in
    exact arithmetic, so the one-way guards apply per grouping; only
    the CGM *combination* may be legitimately non-PSD).

    Pair-cardinality gate (optimization r16, guide §1.2 applied
    honestly): the one-pass plan only wins when rows ≫ |a×b| pairs —
    when the pair table is near row-identity (the local fixture:
    591k pairs / 600k rows) the groupBy(a, b) reduces nothing, so
    materializing the pair table is pure overhead and the exact
    four-pass path is faster (measured +0.6–1.5 s warm at sf0.1).
    A cheap key-only probe (ONE aggregation over the two projected
    key columns — approx_count_distinct + count, deterministic HLL,
    column-pruned at the scan so it reads a few % of the bytes a
    full pass would) decides: one-pass only when
    pairs/rows ≤ ``HDFE_CLUSTER2_PAIR_RATIO`` (default 0.5).
    """
    from pyspark import StorageLevel

    k = len(x_cols)
    ratio_max = float(_os_env.environ.get("HDFE_CLUSTER2_PAIR_RATIO", "0.5"))
    probe = df.select(key_a, key_b).agg(
        F.approx_count_distinct(F.struct(key_a, key_b)).alias("__pairs"),
        F.count(F.lit(1)).alias("__rows"),
    )
    prow = probe.collect()[0]
    n_rows = int(prow["__rows"] or 0)
    if n_rows == 0 or int(prow["__pairs"] or 0) > ratio_max * n_rows:
        return None
    P = [(j, l) for j in range(k) for l in range(j, k)]
    xv = [F.col(c).cast("double") for c in x_cols]
    yv = F.col(y_col).cast("double")
    bad_flags = _null_nan_flags(df, list(x_cols) + [y_col])

    need = list(dict.fromkeys([key_a, key_b, *x_cols, y_col]))
    pair = (
        _spread_by_keys(df.select(*need), [key_a, key_b])
        .groupBy(key_a, key_b)
        .agg(
            F.count(F.lit(1)).alias("__w"),
            *[F.sum(xv[j] * xv[l]).alias(f"__xx_{j}_{l}") for j, l in P],
            *[F.sum(xv[i] * yv).alias(f"__xy_{i}") for i in range(k)],
            *bad_flags,
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        row_ab = pair.agg(
            *_tensor_agg_exprs(
                k,
                extra=[
                    F.max(f"__bad_{i}").alias(f"__bad_{i}")
                    for i in range(k + 1)
                ],
            )
        )
        row_ab = row_ab.collect()[0]
        if any(int(row_ab[f"__bad_{i}"] or 0) for i in range(k + 1)):
            return None

        roll = [
            F.sum("__w").alias("__w"),
            *[F.sum(f"__xx_{j}_{l}").alias(f"__xx_{j}_{l}") for j, l in P],
            *[F.sum(f"__xy_{i}").alias(f"__xy_{i}") for i in range(k)],
        ]
        dims = [
            pair.groupBy(key).agg(*roll).agg(*_tensor_agg_exprs(k))
            for key in (key_a, key_b)
        ]
        # The two dimension roll-ups are independent jobs over the
        # (already materialized) pair table — submit both at once so
        # the second back-fills the first's task tail (guide §2.6).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            dim_rows = list(pool.map(lambda d: d.collect()[0], dims))
    finally:
        pair.unpersist(False)

    n, G, Xty, A_ab, B_ab, C_ab = _tensors_from_row(row_ab, k)
    _, _, _, A_a, B_a, C_a = _tensors_from_row(dim_rows[0], k)
    _, _, _, A_b, B_b, C_b = _tensors_from_row(dim_rows[1], k)

    idx = list(range(k))
    x_used = list(x_cols)
    if check_rank:
        ci, ki = find_collinear_cols_gram(G, tol=tol)
        if ci:
            idx = ki
            x_used = [x_cols[i] for i in ki]
            G = G[np.ix_(ki, ki)]
            Xty = Xty[ki, :]

    def _sub(A, B, C):
        return (
            A[np.ix_(idx, idx)],
            B[np.ix_(idx, idx, idx)],
            C[np.ix_(idx, idx, idx, idx)],
        )

    b = _solve(G, Xty)
    bv = b[:, 0]
    meats = []
    for A, B, C in (
        _sub(A_a, B_a, C_a),
        _sub(A_b, B_b, C_b),
        _sub(A_ab, B_ab, C_ab),
    ):
        m = _meat_from_tensors(A, B, C, bv)
        if m is None:
            return None
        meats.append(m)
    meat = meats[0] + meats[1] - meats[2]
    G_inv = np.linalg.pinv(G)
    res = EstimateResult(
        b=b, coef_names=list(x_used), x_cols=list(x_used),
        plan="pooled", n=n,
    )
    res.V = [G_inv @ meat @ G_inv]
    res.v_coef_names = list(x_used)
    return res


def _pooled_hc1_onepass(df, y_col, x_cols, check_rank, tol):
    """White/HC1-robust pooled OLS in ONE full-data pass
    (optimization r16, guide §1.2 "fewer passes").

    The exact path scans twice: the Gram pass, then (at the fitted b)
    the ``Σ eᵢ² xᵢxᵢ'`` meat pass. But HC1 is the one-way cluster
    sandwich with every row its own cluster, so the
    ``_pooled_cluster_onepass`` tensor identity applies with the
    first-level groupBy removed entirely: the per-row moment products
    (Xy⊗Xy, Xy⊗XX, XX⊗XX upper triangles) aggregate directly in one
    fused pass, and ``meat = A − Bb − (Bb)' + b'Cb`` assembles on the
    driver. Returns None — caller falls back to the exact two-pass
    path — on NULL/NaN anywhere in (x, y), or when the expanded meat
    fails the `_meat_from_tensors` cancellation guards."""
    k = len(x_cols)
    P = [(j, l) for j in range(k) for l in range(j, k)]
    xv = [F.col(c).cast("double") for c in x_cols]
    yv = F.col(y_col).cast("double")
    bad_flags = _null_nan_flags(df, list(x_cols) + [y_col])
    # Per-row moment-product columns under the SAME naming contract as
    # the cluster paths' first-level aggregation, so the second-level
    # machinery (`_tensor_agg_exprs` / `_tensors_from_row`) is reused
    # verbatim instead of re-implemented (review r16). Catalyst
    # collapses the projection into the aggregate — one fused pass.
    need = list(dict.fromkeys(list(x_cols) + [y_col]))
    per_row = df.select(
        *[F.col(c) for c in need],
        F.lit(1.0).alias("__w"),
        *[(xv[j] * xv[l]).alias(f"__xx_{j}_{l}") for j, l in P],
        *[(xv[i] * yv).alias(f"__xy_{i}") for i in range(k)],
    )
    row = per_row.agg(*_tensor_agg_exprs(k, extra=bad_flags))
    row = row.collect()[0]
    if any(int(row[f"__bad_{i}"] or 0) for i in range(k + 1)):
        return None
    n, G, Xty, A, B, C = _tensors_from_row(row, k)

    idx = list(range(k))
    x_used = list(x_cols)
    if check_rank:
        ci, ki = find_collinear_cols_gram(G, tol=tol)
        if ci:
            idx = ki
            x_used = [x_cols[i] for i in ki]
            G = G[np.ix_(ki, ki)]
            Xty = Xty[ki, :]
    A = A[np.ix_(idx, idx)]
    B = B[np.ix_(idx, idx, idx)]
    C = C[np.ix_(idx, idx, idx, idx)]

    b = _solve(G, Xty)
    meat = _meat_from_tensors(A, B, C, b[:, 0])
    if meat is None:
        return None
    G_inv = np.linalg.pinv(G)
    hc1 = n / max(n - len(x_used), 1)
    res = EstimateResult(
        b=b, coef_names=list(x_used), x_cols=list(x_used),
        plan="pooled", n=n,
    )
    res.V = [G_inv @ meat @ G_inv * hc1]
    res.v_coef_names = list(x_used)
    return res


def _pooled_homosked_onepass(df, y_cols, x_cols, check_rank, tol):
    """Homoskedastic-SE pooled OLS in ONE full-data pass
    (optimization r16, guide §1.2).

    The exact path scans twice (Gram, then the residual-RSS pass);
    but ``rss = y'y − 2b'X'y + b'Gb`` closed-form, so extending the
    Gram aggregation with the y-block second moments makes the second
    scan redundant. Returns None — caller falls back to the exact
    two-pass path — on NULL/NaN anywhere in (x, y) (the exact path's
    per-row NULL residual semantics are not reproduced by pairwise
    moment sums) or when `_rss_from_moments`' cancellation guard
    trips (R² ≈ 1)."""
    k, m = len(x_cols), len(y_cols)
    all_cols = list(x_cols) + list(y_cols)
    cv = [F.col(c).cast("double") for c in all_cols]
    bad_flags = _null_nan_flags(df, all_cols)
    pairs = [(i, j) for i in range(k + m) for j in range(i, k + m)]
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *bad_flags,
        *[F.sum(cv[i] * cv[j]).alias(f"__g_{i}_{j}") for i, j in pairs],
    )
    row = row.collect()[0]
    if any(int(row[f"__bad_{i}"] or 0) for i in range(k + m)):
        return None
    n = int(row["__n"] or 0)
    M = np.zeros((k + m, k + m))
    for i, j in pairs:
        v = row[f"__g_{i}_{j}"]
        M[i, j] = M[j, i] = 0.0 if v is None else float(v)
    G = M[:k, :k]
    Xty = M[:k, k:]
    yy_diag = [float(M[k + t, k + t]) for t in range(m)]

    x_used = list(x_cols)
    if check_rank:
        ci, ki = find_collinear_cols_gram(G, tol=tol)
        if ci:
            x_used = [x_cols[i] for i in ki]
            G = G[np.ix_(ki, ki)]
            Xty = Xty[ki, :]
    b = _solve(G, Xty)
    rss = _rss_from_moments(yy_diag, Xty, G, b)
    if rss is None:
        return None
    G_inv = np.linalg.pinv(G)
    res = EstimateResult(
        b=b, coef_names=list(x_used), x_cols=list(x_used),
        plan="pooled", n=n,
    )
    res.V = _homoskedastic_V(G_inv, rss, n, len(x_used))
    res.v_coef_names = list(x_used)
    return res


def _plan_pooled(
    df, y_cols, x_cols, check_rank, estimate_variance,
    want_resid, get_residual, cluster, robust, tol,
) -> EstimateResult:
    """No FEs → normal equations from one distributed Gram pass
    (reference ``hdfe/hdfe.py:66-71``)."""
    if (
        estimate_variance
        and cluster is not None
        and len(cluster) == 1
        and not get_residual
        and not robust
        and len(y_cols) == 1
        and len(x_cols) <= _CLUSTER_FAST_MAX_K
        and len(set(list(x_cols) + list(y_cols))) == len(x_cols) + 1
    ):
        res = _pooled_cluster_onepass(
            df, y_cols[0], list(x_cols), cluster[0], check_rank, tol
        )
        if res is not None:
            return res
    if (
        estimate_variance
        and cluster is not None
        and len(cluster) == 2
        and not get_residual
        and not robust
        and len(y_cols) == 1
        and len(x_cols) <= _CLUSTER_FAST_MAX_K
        and len(set(list(x_cols) + list(y_cols))) == len(x_cols) + 1
    ):
        res = _pooled_cluster2_onepass(
            df, y_cols[0], list(x_cols), cluster[0], cluster[1],
            check_rank, tol,
        )
        if res is not None:
            return res
    if (
        estimate_variance
        and cluster is None
        and not get_residual
        and len(set(list(x_cols) + list(y_cols)))
        == len(x_cols) + len(y_cols)
    ):
        # One-pass pooled SE paths (r16, guide §1.2): HC1 via the
        # per-row tensor identity, homoskedastic via closed-form RSS.
        # Both fall back internally (None) on NULL/NaN or guard trips.
        res = None
        if (
            robust
            and len(y_cols) == 1
            and len(x_cols) <= _CLUSTER_FAST_MAX_K
        ):
            res = _pooled_hc1_onepass(
                df, y_cols[0], list(x_cols), check_rank, tol
            )
        elif (
            not robust
            and len(x_cols) + len(y_cols) <= _WITHIN_FAST_MAX_COLS
        ):
            res = _pooled_homosked_onepass(
                df, list(y_cols), list(x_cols), check_rank, tol
            )
        if res is not None:
            return res
    if check_rank:
        G, Xty, n = gram_matrix(df, x_cols, y_cols)
        ci, ki = find_collinear_cols_gram(G, tol=tol)
        if ci:
            x_cols = [x_cols[i] for i in ki]
            G = G[np.ix_(ki, ki)]
            Xty = Xty[ki, :]
    else:
        G, Xty, n = gram_matrix(df, x_cols, y_cols)

    b = _solve(G, Xty)
    res = EstimateResult(
        b=b, coef_names=list(x_cols), x_cols=list(x_cols),
        plan="pooled", n=n,
    )
    if not want_resid:
        return res

    with_resid = _append_residuals(df, y_cols, x_cols, b)
    resid_cols = [f"resid_{yc}" for yc in y_cols]
    if get_residual:
        res.residuals = with_resid

    if estimate_variance:
        G_inv = np.linalg.pinv(G)
        if cluster is not None:
            meat = _cluster_meat_multiway(with_resid, cluster, resid_cols, x_cols)
            res.V = [G_inv @ meat[rc] @ G_inv for rc in resid_cols]
        elif robust:
            meat = _hc1_meat(with_resid, resid_cols, x_cols)
            hc1 = n / max(n - len(x_cols), 1)
            res.V = [G_inv @ meat[rc] @ G_inv * hc1 for rc in resid_cols]
        else:
            rss = _sum_sq(with_resid, resid_cols)
            res.V = _homoskedastic_V(G_inv, rss, n, len(x_cols))
        res.v_coef_names = list(x_cols)
    return res


# ---------------------------------------------------------------- Plan B

# Widest (x + y) column set the Plan-B moment fast path will fuse into
# one aggregation — k(k+1)/2 product expressions; beyond this the
# codegen'd aggregate gets unwieldy and the window path wins anyway.
_WITHIN_FAST_MAX_COLS = int(
    _os_env.environ.get("HDFE_WITHIN_FAST_MAX_COLS", 16)
)


def _spread_by_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Hash-repartition a bare under-partitioned scan on ``keys`` so a
    downstream ``groupBy(keys)`` aggregates in parallel.

    A single parquet row-group (the local-fixture case, and any tiny
    unsplittable input) scans as ONE task, so the map-side partial
    aggregation of a wide groupBy serializes on one core — and when
    the key combination is near row-identity (Plan C's cell table at
    ~1 row/cell) that partial agg also reduces nothing, so it shuffles
    MORE bytes than the raw rows. Exchanging the raw rows by the
    group keys first moves fewer bytes and lets the aggregation run
    cluster-wide (guide §2.5 "input skew: repartition immediately
    after the read"; measured 1.20 s → 0.67 s for the sf0.1 cell
    pass). Keyed, not round-robin — no sort-before-repartition pass,
    and the exchange satisfies the aggregation's distribution so no
    second exchange appears. At real scale the input already has
    ≥ cores splits and this is a no-op, so the shuffle only ever pays
    for itself. Only applied to shuffle-free plans (anything already
    exchanged is already wide; probing ``.rdd`` there would eagerly
    execute upstream stages under AQE)."""
    try:
        lp = df._jdf.queryExecution().logical().toString()
    except Exception:
        return df
    # Classify by the NODE NAME at the start of each tree line, not by
    # raw substring containment (review r16): the plan string also
    # prints user identifiers, so a column named e.g. 'SortKey' would
    # otherwise make a shuffle-free scan look exchanged and silently
    # disable the spread. Tree-drawing prefixes are spaces and
    # ':+-|'; unresolved nodes carry a leading apostrophe.
    nodes = {
        m.group(1)
        for m in _re.finditer(r"(?m)^[\s:+\-|]*'?([A-Za-z][A-Za-z0-9]*)", lp)
    }
    if nodes & {
        "Window",
        "Aggregate",
        "Join",
        "Sort",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
    }:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def _within_moments_gram(work, fe1, x_all, y_cols):
    """Demeaned Gram ``(G_dm, X̃'y, n)`` for the within plan from ONE
    groupBy(fe1) moment pass — no full-data window shuffle.

    Identity: ``Σ x̃ᵢx̃ⱼ = Σ_g (Σ_{r∈g} xᵢxⱼ − SᵢSⱼ/w_g)`` with
    ``S = Σ_{r∈g} x`` — the per-group central-moment decomposition.
    ``Σ x̃ᵢ·yⱼ = Σ x̃ᵢ·ỹⱼ`` (orthogonality), so y columns ride the
    same moment block. Returns None (caller falls back to the window
    demean) when any column carries NULL/NaN (the window path's
    per-column null semantics are not reproduced by the listwise
    identity) or when a demeaned diagonal fails the Plan-C
    cancellation guard (< ~8 safe digits vs the raw second moment).

    Returns ``(G_x, Xty, n, Gf, n_levels, loss)`` (optimization r16):
    the full demeaned moment matrix ``Gf`` over x_all + y_cols (its
    y-block diagonal is ỹ'ỹ — the closed-form RSS ingredient), the
    fe1 level count (the number of first-level groups, NULL level
    included), and the digit-loss factor ``loss = max(ssᵢ/Gfᵢᵢ)`` —
    the moment entries carry absolute error ~1e-16·ss = 1e-16·loss·Gf,
    so downstream subtractions must scale their cancellation guards
    by ``loss`` (review r16).
    """
    all_cols = list(x_all) + list(y_cols)
    k = len(all_cols)
    pairs = [(i, j) for i in range(k) for j in range(i, k)]
    cols = [F.col(c).cast("double") for c in all_cols]
    nan_flags = _null_nan_flags(work, all_cols)
    cells = work.groupBy(fe1).agg(
        F.count(F.lit(1)).alias("__w"),
        *[F.sum(cols[i]).alias(f"__s_{i}") for i in range(k)],
        *[
            F.sum(cols[i] * cols[j]).alias(f"__p_{i}_{j}")
            for i, j in pairs
        ],
        *nan_flags,
    )
    row = cells.agg(
        F.sum("__w").alias("__n"),
        F.count(F.lit(1)).alias("__cells"),
        *[F.max(f"__bad_{i}").alias(f"__bad_{i}") for i in range(k)],
        *[
            F.sum(
                F.col(f"__p_{i}_{j}")
                - F.col(f"__s_{i}") * F.col(f"__s_{j}") / F.col("__w")
            ).alias(f"__win_{i}_{j}")
            for i, j in pairs
        ],
        *[F.sum(f"__p_{i}_{i}").alias(f"__ss_{i}") for i in range(k)],
    )
    row = row.collect()[0]
    if any(int(row[f"__bad_{i}"] or 0) for i in range(k)):
        return None
    n = int(row["__n"] or 0)
    n_levels = int(row["__cells"] or 0)
    Gf = np.zeros((k, k))
    for i, j in pairs:
        v = row[f"__win_{i}_{j}"]
        Gf[i, j] = Gf[j, i] = 0.0 if v is None else float(v)
    loss = 1.0
    for i in range(k):
        ss = float(row[f"__ss_{i}"] or 0.0)
        if ss > 0.0:
            if not Gf[i, i] > ss * 1e-8:
                return None
            loss = max(loss, ss / Gf[i, i])
    k_x = len(x_all)
    G_x = Gf[:k_x, :k_x]
    # Conditioning-amplified guard (review r15): the moment identity's
    # per-entry absolute error is ~1e-16·ss = 1e-16·loss·diag; solving
    # a near-singular demeaned Gram amplifies it by cond(G). Require
    # cond(corr(G))·loss ≲ 1e7 so slopes keep ≥ ~9 digits — beyond
    # that the window path (per-entry error 1e-16·diag) is the
    # accurate one, so fall back.
    d = np.sqrt(np.diag(G_x))
    if G_x.size:
        if not np.all(d > 0.0):
            return None
        with np.errstate(all="ignore"):
            cond = float(np.linalg.cond(G_x / np.outer(d, d)))
        if not cond * loss < 1e7:
            return None
    return G_x, Gf[:k_x, k_x:], n, Gf, n_levels, loss


def _rss_from_moments(yy_diag, Xty, G, b, loss=1.0):
    """Closed-form residual sum of squares per outcome,
    ``rss_m = ỹ'ỹ − 2·b_m'X̃'y_m + b_m'G b_m`` — the identity that
    lets a variance-requesting caller skip the residual scan
    entirely (optimization r16, guide §1.2 "fewer passes").

    Returns None when any outcome keeps < ~8 safe digits against the
    positive parts of the expansion (R² ≈ 1: the subtraction cancels
    catastrophically) — the caller then runs the exact residual-scan
    RSS, whose per-row subtraction does not amplify. ``loss`` is the
    input moments' own digit-loss factor (``_within_moments_gram``'s
    central-moment identity carries absolute error ~1e-16·loss·entry,
    so the guard threshold must scale with it — review r16; raw
    pooled moments pass the default 1.0)."""
    out = []
    thresh = 1e-8 * max(loss, 1.0)
    for m in range(len(yy_diag)):
        bm = b[:, m]
        t1 = float(yy_diag[m])
        t2 = 2.0 * float(bm @ Xty[:, m])
        t3 = float(bm @ G @ bm)
        rss = t1 - t2 + t3
        pos = abs(t1) + abs(t2) + abs(t3)
        if pos > 0.0 and not rss > pos * thresh:
            return None
        out.append(max(rss, 0.0))
    return np.array(out)


def _plan_within(
    df, y_cols, x_cols, cc, check_rank, estimate_variance,
    want_resid, get_residual, cluster, robust, tol,
) -> EstimateResult:
    """Within estimator / FWL demeaning (reference
    ``hdfe/hdfe.py:73-120``). FE#1 absorbed; FEs #2+ as drop-last
    dummy columns appended to x (``hdfe/hdfe.py:74-78``)."""
    fe1 = cc[0]
    work = df
    x_all = list(x_cols)
    for other_fe in cc[1:]:
        work, dummy_names = make_dummies(work, other_fe, drop_col=True)
        x_all += dummy_names

    dm_cols = None
    fast = None
    if (
        not robust
        and cluster is None
        and len(set(x_all + y_cols)) == len(x_all) + len(y_cols)
        and len(x_all) + len(y_cols) <= _WITHIN_FAST_MAX_COLS
    ):
        # Moment fast path (optimization round 15, guide §2.3
        # "aggregate before you shuffle"): the demeaned Gram is a sum
        # of per-fe1-level within-group central moments, so ONE
        # groupBy(fe1) with map-side partial aggregation (a level-
        # sized exchange) replaces the full-data window shuffle +
        # sort that the demeaning pass costs. Exactly the Plan-C
        # fast-Gram idea one plan over: per-level (w, Σc, Σcᵢcⱼ), then
        # one cells-sized agg of Σ(p − sᵢsⱼ/w) — numerically stable
        # because the cancellation happens inside each small group.
        # Falls back to the window path (identical-to-before
        # behavior) when NULL/NaN values are present (the window
        # demean has per-column null semantics that the listwise
        # moment identity does not reproduce) or when any demeaned
        # diagonal fails the Plan-C cancellation guard.
        #
        # Extended r16 to homoskedastic variance-requesting callers
        # (the downstream V needs only RSS — closed-form from the
        # same pass's ỹ'ỹ block — and the level count, which rides
        # the reduction): HC1/cluster callers still need per-row
        # demeaned scores (__dm_* columns) and keep the window path.
        fast = _within_moments_gram(work, fe1, x_all, y_cols)

    yy_diag = None
    n_cells = None
    moment_loss = 1.0
    if fast is not None:
        G_dm, Xty, n, Gf_full, n_cells, moment_loss = fast
        k_x0 = len(x_all)
        yy_diag = [
            float(Gf_full[k_x0 + m, k_x0 + m]) for m in range(len(y_cols))
        ]
    else:
        # Demean x within fe1 — one window pass for all columns.
        w = Window.partitionBy(fe1)
        dm_cols = [f"__dm_{c}" for c in x_all]
        work = work.select(
            "*",
            *[(F.col(c) - F.avg(c).over(w)).alias(d) for c, d in zip(x_all, dm_cols)],
        )

        # Demeaned Gram + X̃'y in one pass (X̃'y == X̃'ỹ by orthogonality).
        G_dm, Xty, n = gram_matrix(work, dm_cols, y_cols)
    # Full pre-rank-repair __dm_* list: the public residual frame must
    # drop ALL of them, including those of rank-dropped regressors
    # (ADVICE r15 — slicing dm_cols below would leak the dropped
    # columns' __dm_* into the residual schema on the window path).
    dm_cols_all = list(dm_cols) if dm_cols else None
    if check_rank:
        ci, ki = find_collinear_cols_gram(G_dm, tol=tol)
        if ci:
            x_all = [x_all[i] for i in ki]
            if dm_cols is not None:
                dm_cols = [dm_cols[i] for i in ki]
            G_dm = G_dm[np.ix_(ki, ki)]
            Xty = Xty[ki, :]

    b_x = _solve(G_dm, Xty)

    # Residual against RAW x (reference: error = y - x·b,
    # hdfe/hdfe.py:105), then FE effects = group means of that error.
    with_resid = _append_residuals(work, y_cols, x_all, b_x)
    resid_cols = [f"resid_{yc}" for yc in y_cols]
    fe_agg = with_resid.groupBy(fe1).agg(
        *[F.avg(rc).alias(f"fe_{yc}") for rc, yc in zip(resid_cols, y_cols)],
        F.count(F.lit(1)).alias("__fe_count"),
    )
    fe_effect_cols = [f"fe_{yc}" for yc in y_cols]
    if want_resid and (estimate_variance or cluster is not None):
        # fe_agg feeds ≥2 downstream actions (netting join + variance)
        # — checkpoint lazily so the demean+residual pipeline upstream
        # of it runs once, not per action. With residuals ONLY, the
        # single downstream action shares the fe1 window shuffle via
        # ReusedExchange, so a checkpoint would just add a
        # materialization job (profiled at sf0.1, round 4).
        fe_agg = fe_agg.localCheckpoint(eager=False)

    # FE block of the coefficient vector is LAZY: collected (sorted by
    # level — reference factorized-code order, hdfe/hdfe.py:114-116)
    # only if the caller reads .b/.coef_names. Slopes-only callers
    # never pull a levels-sized block onto the driver.
    def _collect_fe_block():
        fe_rows = fe_agg.orderBy(fe1).collect()
        fe_block = np.array(
            [[float(r[c]) for c in fe_effect_cols] for r in fe_rows]
        )
        b_full = np.vstack([fe_block.reshape(len(fe_rows), len(y_cols)), b_x])
        names = [f"{fe1}={r[fe1]}" for r in fe_rows] + x_all
        return b_full, names

    res = EstimateResult(
        slopes=b_x, lazy_fe=_collect_fe_block, x_cols=x_all,
        plan="within", n=n,
        fixed_effects={fe1: fe_agg.select(fe1, *fe_effect_cols)},
    )

    if not want_resid:
        return res

    # Net the FE out of the residual (broadcast join on fe1 —
    # reference hdfe/hdfe.py:119-120, but keyed by value, not position).
    netted = with_resid.join(F.broadcast(fe_agg.drop("__fe_count")), on=fe1, how="left")
    netted = netted.select(
        *[c for c in with_resid.columns if c not in resid_cols],
        *[
            (F.col(rc) - F.coalesce(F.col(fc), F.lit(0.0))).alias(rc)
            for rc, fc in zip(resid_cols, fe_effect_cols)
        ],
    )
    if get_residual:
        # Public residual schema must not depend on which internal
        # path computed the slopes (review r15): the moment fast path
        # never materializes __dm_* columns, so drop them here too —
        # both paths emit (input cols + dummy cols + resid cols).
        # Dropping the FULL pre-rank-repair list (ADVICE r15) keeps
        # that contract when check_rank removed collinear regressors.
        res.residuals = (
            netted.drop(*dm_cols_all) if dm_cols_all else netted
        )

    if estimate_variance:
        # Level count from one count-aggregate — never a levels-sized
        # collect unless the small-FE covariance block is requested.
        # The moment fast path already carries the level count on its
        # reduction row (r16) — no extra job.
        n_levels = n_cells if n_cells is not None else fe_agg.count()
        k_x = len(x_all)
        k_total = n_levels + k_x
        # Blockwise (X'X)⁻¹ for X = [D₁ | x]: A = diag(counts),
        # B = per-level x sums, Schur complement S = x'x − B'A⁻¹B =
        # demeaned Gram G_dm. No levels×levels dense matrix needed for
        # the slope block; FE blocks are formed only when small.
        S_inv = np.linalg.pinv(G_dm)
        if robust:
            # HC1 on the within-transformed model (slopes): demeaned x
            # against FE-netted residuals, absorbed-dof correction.
            meat = _hc1_meat(netted, resid_cols, dm_cols)
            hc1 = n / max(n - k_total, 1)
            res.V = [S_inv @ meat[rc] @ S_inv * hc1 for rc in resid_cols]
            res.v_coef_names = list(x_all)
        elif cluster is None:
            # RSS closed-form from the moment pass when it ran (r16,
            # guide §1.2): rss = ỹ'ỹ − 2b'X̃'y + b'Gb — the exact
            # netting-scan RSS only when the cancellation guard trips
            # (R² ≈ 1) or the window path computed the Gram.
            rss = (
                _rss_from_moments(yy_diag, Xty, G_dm, b_x, moment_loss)
                if yy_diag is not None
                else None
            )
            if rss is None:
                rss = _sum_sq(netted, resid_cols)
            dof = max(n - k_total, 1)
            if n_levels <= 2000:
                sums = work.groupBy(fe1).agg(
                    F.count(F.lit(1)).alias("__fe_count"),
                    *[F.sum(c).alias(c) for c in x_all],
                ).orderBy(fe1).collect()
                B = np.array([[float(r[c] or 0.0) for c in x_all] for r in sums])
                fe_counts = np.array([int(r["__fe_count"]) for r in sums])
                A_inv = np.diag(1.0 / fe_counts)
                AinvB = A_inv @ B
                V_dd = A_inv + AinvB @ S_inv @ AinvB.T
                V_dx = -AinvB @ S_inv
                G_inv_full = np.block([[V_dd, V_dx], [V_dx.T, S_inv]])
                res.V = [G_inv_full * (float(es) / dof) for es in rss]
                res.v_coef_names = res.coef_names
            else:
                res.V = [S_inv * (float(es) / dof) for es in rss]
                res.v_coef_names = list(x_all)
        else:
            # Cluster-robust on the within-transformed model (slopes):
            # scores from demeaned x against FE-netted residuals.
            meat = _cluster_meat_multiway(netted, cluster, resid_cols, dm_cols)
            res.V = [S_inv @ meat[rc] @ S_inv for rc in resid_cols]
            res.v_coef_names = list(x_all)
    return res


# ---------------------------------------------------------------- Plan C

# FE level tables up to this many rows are broadcast for join-based
# demeaning; above it, fall back to a window pass (same shuffle cost
# as any grouped op at that cardinality, no driver/broadcast blowup).
_BROADCAST_DEMEAN_MAX_LEVELS = 1_000_000


def _unpersist_checkpoint(ckpt_df) -> None:
    """Release the persisted RDD behind a ``localCheckpoint``'d
    DataFrame. Only call once nothing un-materialized depends on it
    (a later checkpoint with truncated lineage, or results already on
    the driver). Reaches through the LogicalRDD node; if the internal
    surface ever shifts, leaking the blocks beats failing the job."""
    try:
        ckpt_df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


# The AP fixed point lives in LEVEL space: the demeaned value of any
# row is x − Σ_f a_f(level_f(row)) for per-FE adjustment vectors a_f,
# and the a_f satisfy the dummy-design normal equations whose blocks
# are the per-level weights (diagonal) and pairwise FE cross-counts
# (off-diagonal). Those sufficient statistics are LEVEL-sized, so when
# they fit on the driver the whole iteration runs in numpy — zero
# full-data sweeps. Gates (env-overridable):
_AP_DRIVER_LEVELS_MAX = int(
    _os_env.environ.get("HDFE_AP_DRIVER_LEVELS_MAX", 20_000_000)
)  # Σ levels across FEs
_AP_DRIVER_NNZ_MAX = int(
    _os_env.environ.get("HDFE_AP_DRIVER_NNZ_MAX", 20_000_000)
)  # Σ distinct FE combinations (collect + pairwise-coupling bound).
# Measured on a 20M-row / 800k-level×20-level panel (14.7M cells): the
# driver solve (cells collect 18s + GS 13s + demean 4s = 39s) beats
# distributed full-data sweeps (95s) at identical slopes, so the gate
# sits where the ~50-byte/cell collect (~1 GB transient) stays well
# inside the 16g driver. Tune per deployment via the env var.


def _fe_adjust_driver(cells, cc, dmv, ap_tol, scale, max_iter):
    """Solve for the per-FE adjustment vectors by Irons–Tuck-
    accelerated block Gauss–Seidel on the normal equations built from
    the cell table — mathematically the SAME iteration as distributed
    AP (each block update is 'subtract current group means of FE f'),
    but each sweep is a few ``np.bincount`` matvecs over the cell
    arrays instead of a full-data pass, so sweeps cost milliseconds.

    ``cells``: pandas (cc..., __w, __s_<d>...) — one row per distinct
    FE combination. Everything is factorized to integer codes once;
    per-FE weights/sums and every cross-FE coupling are bincounts over
    the cell arrays (works for ANY number of FEs — the cell row IS the
    joint key). Returns ``{fe: pandas(level, __adj_<d>...)}`` —
    broadcast-join these and subtract.
    """
    import pandas as pd

    w_cell = cells["__w"].to_numpy(np.float64)
    codes: dict = {}
    uniq: dict = {}
    for fe in cc:
        codes[fe], uniq[fe] = pd.factorize(cells[fe].to_numpy())
    L = {fe: len(uniq[fe]) for fe in cc}
    w = {
        fe: np.maximum(
            np.bincount(codes[fe], weights=w_cell, minlength=L[fe]), 1e-300
        )
        for fe in cc
    }
    sx_all = {
        fe: {
            d: np.bincount(
                codes[fe],
                weights=cells[f"__s_{d}"].to_numpy(np.float64),
                minlength=L[fe],
            )
            for d in dmv
        }
        for fe in cc
    }

    def cross_others(f, a):
        """Σ_{rows at each level of f} Σ_{g≠f} a_g(level_g(row)):
        one fused bincount over the cells."""
        other = np.zeros(len(w_cell))
        for g in cc:
            if g != f:
                other += a[g][codes[g]]
        return np.bincount(
            codes[f], weights=w_cell * other, minlength=L[f]
        )

    sizes = [L[fe] for fe in cc]
    splits = np.cumsum(sizes)[:-1]

    # Driver sweeps cost milliseconds, so converge far past the
    # distributed path's tolerance (the caller's ap_tol is sized for
    # expensive full-data sweeps): run to ~machine precision, with a
    # stagnation guard for configurations that bottom out earlier.
    tol = max(ap_tol * 1e-4, 1e-13) * scale
    out = {fe: pd.DataFrame({fe: uniq[fe]}) for fe in cc}
    for d in dmv:
        a = {fe: np.zeros(L[fe]) for fe in cc}
        prev1 = prev2 = None
        best = np.inf
        stale = 0
        for it in range(max_iter):
            worst = 0.0
            for f in cc:
                m = (sx_all[f][d] - cross_others(f, a)) / w[f] - a[f]
                a[f] += m
                if m.size:
                    worst = max(worst, float(np.abs(m).max()))
            if worst < tol:
                break
            if worst < best * 0.5:
                best = worst
                stale = 0
            else:
                stale += 1
                if stale > 20:
                    break
            # Irons–Tuck extrapolation every 3rd sweep (reghdfe's
            # acceleration): for a linear fixed-point iteration the
            # secant step along Δ²x jumps near the limit, typically
            # cutting sweeps ~5-10×.
            cur = np.concatenate([a[fe] for fe in cc])
            if it % 3 == 2 and prev2 is not None:
                d1 = cur - prev1
                d2 = d1 - (prev1 - prev2)
                denom = float(d2 @ d2)
                if denom > 0.0:
                    cur = cur - (float(d1 @ d2) / denom) * d1
                    for fe, seg in zip(cc, np.split(cur, splits)):
                        a[fe] = seg
                prev1 = prev2 = None
            else:
                prev2, prev1 = prev1, cur
        for fe in cc:
            out[fe][f"__adj_{d}"] = a[fe]
    return out


def _ap_sweeps_distributed(
    sw, cc, dmv, keep, levels, weight, scale, ap_tol, ap_max_iter
):
    """The distributed alternating-projection sweep loop over ``sw``
    (optionally ``weight``-ed when ``sw`` is a compressed cell table).
    Returns the converged DataFrame (a live localCheckpoint — caller
    releases it via ``_unpersist_checkpoint`` when done).

    Checkpoint/means lifetimes: checkpoint s materializes lazily
    inside sweep s+1's first means scan, so at most TWO checkpoints
    (and one sweep's level-sized means tables) are live; everything
    older is unpersisted as the loop advances. Without this,
    ``ap_max_iter`` copies of the working set pin executor storage and
    evict/poison every later job in the session."""

    def wavg(d):
        if weight is None:
            return F.avg(d)
        return F.sum(F.col(weight) * F.col(d)) / F.sum(weight)

    live_ckpts: list = []
    prev_means: list = []
    for _sweep in range(ap_max_iter):
        stats = []
        cur_means = []
        for fe in cc:
            if levels[fe] <= _BROADCAST_DEMEAN_MAX_LEVELS:
                means = sw.groupBy(fe).agg(
                    *[wavg(d).alias(f"__m_{d}") for d in dmv]
                ).persist()
                cur_means.append(means)
                # Convergence piggybacks on the means ALREADY computed
                # for demeaning (reghdfe-style increment test): the
                # level-sized max-|mean| agg is free, vs a dedicated
                # full-table groupBy pass per FE per sweep.
                stats.append(
                    means.agg(
                        F.max(
                            F.greatest(
                                *[F.abs(F.col(f"__m_{d}")) for d in dmv]
                            )
                        ).alias("m")
                    )
                )
                sw = sw.join(F.broadcast(means), on=fe, how="left").select(
                    *keep,
                    *[
                        (F.col(d) - F.coalesce(F.col(f"__m_{d}"), F.lit(0.0))).alias(d)
                        for d in dmv
                    ],
                )
            else:
                # >1M-level FE: window demean; pay one grouped agg for
                # the increment stat (still cheaper than sorting).
                stats.append(
                    sw.groupBy(fe)
                    .agg(F.greatest(*[F.abs(wavg(d)) for d in dmv]).alias("m"))
                    .agg(F.max("m").alias("m"))
                )
                w = Window.partitionBy(fe)
                if weight is None:
                    sw = sw.select(
                        *keep,
                        *[(F.col(d) - F.avg(d).over(w)).alias(d) for d in dmv],
                    )
                else:
                    wm = F.sum(weight).over(w)
                    sw = sw.select(
                        *keep,
                        *[
                            (
                                F.col(d)
                                - F.sum(F.col(weight) * F.col(d)).over(w) / wm
                            ).alias(d)
                            for d in dmv
                        ],
                    )
        sw = sw.localCheckpoint(eager=False)
        checks = stats[0]
        for other in stats[1:]:
            checks = checks.unionAll(other)
        worsts = [r["m"] for r in checks.collect() if r["m"] is not None]
        # That collect scanned (and so materialized) the PREVIOUS
        # checkpoint; this sweep's is still pending. Release sweep
        # s-2's blocks and sweep s-1's means tables — nothing
        # un-materialized references them any more.
        live_ckpts.append(sw)
        while len(live_ckpts) > 2:
            _unpersist_checkpoint(live_ckpts.pop(0))
        for m in prev_means:
            m.unpersist(False)
        prev_means = cur_means
        if worsts and max(map(float, worsts)) < ap_tol * scale:
            break

    # The final checkpoint is still UNmaterialized (the convergence
    # collect only read the means tables) and its plan references the
    # previous checkpoint + last sweep's means — they must stay alive
    # until the caller's first action over `sw`. Hand back a cleanup
    # to call after that action.
    def _finish():
        for c in live_ckpts[:-1]:
            _unpersist_checkpoint(c)
        for m in prev_means:
            m.unpersist(False)

    return sw, _finish


def _plan_alternating(
    df, y_cols, x_cols, cc, check_rank, estimate_variance,
    want_resid, get_residual, cluster, robust, tol, ap_tol, ap_max_iter,
) -> EstimateResult:
    """≥2 FEs at scale: alternating-projection demeaning
    (Guimarães & Portugal 2010 / reghdfe) replacing the reference's
    materialize-all-dummies + LSQR (``hdfe/hdfe.py:121-144``).

    Slopes match the reference exactly (uniquely identified); FE
    effects are identified up to constants and recovered per-FE by
    iterated back-fitting — **lazily**: the back-fit DataFrames are
    only executed if the caller reads ``fixed_effects``/``residuals``.

    Scale design — three tiers, chosen by the size of the distinct
    FE-combination CELL table (AP's subtracted group means are
    constant within a cell, so sweeps on the ``__w``-weighted cell
    table are mathematically identical to full-data sweeps):

    1. **cells ≤ ~1M** (the common econometrics shape — e.g. firm ×
       year): ONE full-data groupBy builds the cells, the AP sweeps
       run in numpy on the driver (microseconds, zero cluster jobs),
       and one broadcast join of the converged per-cell adjustment
       demeans every row. Total full-data passes: 1 + Gram,
       independent of sweep count (the tier gate itself aggregates
       the CELL table, not the data — round-14; nulls-present FE
       keys pay one extra pass for the injective re-encode).
    2. **cells > 1M but < rows/2**: the same sweep loop, distributed
       and weighted, over the cell table — per-sweep cost scales with
       |cells|, not n.
    3. **cells ≈ rows** (an FE combination near row-identity): classic
       full-data sweeps.

    Sweep-loop mechanics (tiers 2-3): narrow projection only; per-FE
    demean is ``groupBy(fe).agg(avg)`` (map-side partials) + a
    **broadcast join** subtract — the fact table itself is never
    shuffled — with a window-pass fallback above
    ``_BROADCAST_DEMEAN_MAX_LEVELS``; convergence is ``max |group
    mean| < ap_tol × column RMS`` read from the means already computed
    for demeaning; ``localCheckpoint(eager=False)`` per sweep bounds
    the plan.
    """
    all_cols = list(x_cols) + list(y_cols)
    dm = {c: f"__dm_{c}" for c in all_cols}
    dmv = list(dm.values())
    keep = list(dict.fromkeys(cc + (list(cluster) if cluster else [])))
    # NULL contract (review r14, the ADVICE-r12 discipline the other
    # plans already follow): restrict to complete (x, y) rows — and
    # NaN-free for float columns — BEFORE anything else, so the cell
    # weights, every sweep mean, the Gram, and n all describe ONE
    # estimating sample. (Pre-r14 the driver tier divided cell sums
    # by ALL-row weights while the distributed tier used
    # null-skipping avg — two silently different answers on
    # null-containing inputs. A NULL FE *level* is unaffected: it is
    # its own absorbed group, handled below.)
    sw = df.filter(_and_complete(F.lit(True), df, all_cols)).select(
        *keep, *[F.col(c).alias(d) for c, d in dm.items()]
    )
    # Parallelize the cell pass when the scan is under-partitioned
    # (single row-group fixture files): exchange raw rows by the FE
    # keys — fewer bytes than the near-identity cell table, and the
    # wide cell aggregation runs cluster-wide instead of on the one
    # scan task. No-op on inputs that already have ≥ cores/2 splits.
    sw = _spread_by_keys(sw, cc)

    # --- One gate pass: row count, approximate per-FE level counts,
    # approximate pairwise-combination counts (the nnz of the
    # level-space normal equations), and the column RMS used as the
    # relative convergence scale.
    from itertools import combinations

    fe_pairs = list(combinations(cc, 2))

    # ONE full-data pass builds the weighted cell table: per-cell
    # count, per-column sums, AND the upper-triangle raw
    # cross-moments Σ dᵢ·dⱼ (whose diagonal doubles as the gate's RMS
    # scale). Every gate statistic is then an aggregation over the
    # |cells|-sized table, not the data (round-14: the old design
    # spent a second full-data scan on the gate), and — when no
    # variance/residual scan is requested — the cross-moments let
    # the GRAM itself be assembled ON THE DRIVER from the cells
    # (within-cell moments + adjusted cell means), so the whole
    # Plan-C estimate is ONE full-data pass. Each distinct FE
    # combination appears exactly once in the cell table, so the
    # approximate distinct counts are the same quantities; the cell
    # count itself becomes EXACT for free.
    dpairs = [
        (i, j) for i in range(len(dmv)) for j in range(i, len(dmv))
    ]
    # Fast (driver-assembled) Gram is possible only when nothing
    # downstream needs a demeaned ROW table and the dm name-dedup
    # kept every x/y column distinct (review r14b: duplicate or
    # overlapping x/y names would misalign the positional G_full
    # slices — gram_matrix indexes by NAME and handles them).
    # Off-diagonal cross-moments are emitted only then; every other
    # caller pays the diagonal (the RMS scale) alone.
    fast_possible = (
        not estimate_variance
        and cluster is None
        and not robust
        and len(dmv) == len(all_cols)
    )
    emit_pairs = (
        dpairs if fast_possible
        else [(i, i) for i in range(len(dmv))]
    )

    def _cells_of(frame):
        return frame.groupBy(*cc).agg(
            F.count(F.lit(1)).alias("__w"),
            *[F.sum(d).alias(f"__s_{d}") for d in dmv],
            *[
                F.sum(F.col(dmv[i]) * F.col(dmv[j]))
                .alias(f"__p_{i}_{j}")
                for i, j in emit_pairs
            ],
        )

    cells_df = _cells_of(sw).persist()
    gate = cells_df.agg(
        F.count(F.lit(1)).alias("__cells"),
        F.sum("__w").alias("__n"),
        *[F.approx_count_distinct(fe).alias(f"__l_{fe}") for fe in cc],
        *[
            F.approx_count_distinct(F.xxhash64(a, b)).alias(f"__p_{i}")
            for i, (a, b) in enumerate(fe_pairs)
        ],
        *[
            F.sum(f"__p_{i}_{i}").alias(f"__ss_{d}")
            for i, d in enumerate(dmv)
        ],
        # within-cell central moments, aggregated to ONE scalar per
        # pair: the per-cell difference p − sᵢsⱼ/w is numerically
        # small (it cancels inside each small cell), so summing the
        # differences is stable where Σp − Σss/w globally would
        # cancel catastrophically; these are the first Gram term of
        # the driver fast path below
        *[
            F.sum(
                F.col(f"__p_{i}_{j}")
                - F.col(f"__s_{dmv[i]}") * F.col(f"__s_{dmv[j]}")
                / F.col("__w")
            ).alias(f"__win_{i}_{j}")
            for i, j in emit_pairs
        ],
        # Null detection rides the gate scan for free (see below).
        *[
            F.max(F.col(fe).isNull().cast("int")).alias(f"__null_{fe}")
            for fe in cc
        ],
    )
    gate = gate.collect()[0]
    n_rows = int(gate["__n"] or 0)
    n_cells = int(gate["__cells"])
    # Null FE levels are REAL levels (same semantics as groupBy /
    # window demeaning, which keep a null group) — but equi-joins
    # never match null keys and pd.factorize codes nulls as -1
    # (breaking the driver tier's bincounts). When the gate saw nulls
    # in an FE column, re-encode that key injectively on top of the
    # lazy sw projection: null → "\x00", value v → "v" + str(v) —
    # equality (all Plan C ever needs from these columns) is
    # preserved, and the encoded keys never leave this function (FE
    # recovery reads the ORIGINAL df). The cell table is rebuilt on
    # the re-encoded keys (one extra full pass, nulls-present inputs
    # only); null-free inputs — the common case — keep their native
    # key types and pay nothing.
    null_fes = [fe for fe in cc if int(gate[f"__null_{fe}"] or 0)]
    if null_fes:
        fe_key = {
            fe: F.when(F.col(fe).isNull(), F.lit("\x00"))
            .otherwise(F.concat(F.lit("v"), F.col(fe).cast("string")))
            .alias(fe)
            for fe in null_fes
        }
        sw = sw.select(
            *[fe_key.get(c, F.col(c)) for c in keep],
            *dmv,
        )
        cells_df.unpersist(False)
        cells_df = _cells_of(sw).persist()
    approx_levels = sum(int(gate[f"__l_{fe}"]) for fe in cc)
    # The driver path collects the full-combination cell table, so the
    # gate bounds BOTH the pairwise nnz and the cell count (for C=2
    # they coincide; for C>2 cells can be much larger).
    approx_nnz = max(
        sum(int(gate[f"__p_{i}"]) for i in range(len(fe_pairs))),
        n_cells,
    )
    # Relative convergence scale: largest column RMS (an absolute test
    # on e.g. price-scaled data forces dozens of extra sweeps).
    scale = max(
        [
            (float(gate[f"__ss_{d}"]) / n_rows) ** 0.5
            for d in dmv
            if gate[f"__ss_{d}"] is not None and n_rows > 0
        ]
        or [1.0]
    ) or 1.0

    adj_cols = {d: f"__adj_{d}" for d in dmv}
    finish = None
    cw = None
    fast = None
    if approx_levels <= _AP_DRIVER_LEVELS_MAX and approx_nnz <= _AP_DRIVER_NNZ_MAX:
        # Level-space path: ONE groupBy over all FE keys collects the
        # distinct-combination cell table (weights + per-column sums —
        # the gate bounded its size); per-FE sums and pairwise
        # cross-counts fall out of it with driver pandas groupbys;
        # the iteration runs in numpy; then ONE pass with C tiny
        # broadcast joins demeans every row. The cell table is the
        # SAME one the gate already computed and persisted — collect
        # it (minus the __ss gate columns), then release the blocks.
        # Total full-data scans: gate+cells (fused) + Gram —
        # independent of sweep count. When nothing downstream needs
        # a demeaned ROW table (no variance scan — the slopes-only
        # call), the Gram itself assembles on the driver from the
        # collected cells (round-14): Σ x̃ᵢx̃ⱼ = Σ_cells [within-cell
        # moment] + Σ_cells w·rᵢrⱼ with r = cell mean − converged
        # adjustment — both terms well-scaled (the within moments
        # cancel per small cell; r is the converged residual mean),
        # so the whole Plan-C estimate is ONE full-data pass.
        fast_gram = fast_possible
        cells_pdf = cells_df.select(
            *cc, "__w", *[f"__s_{d}" for d in dmv]
        ).toPandas()
        cells_df.unpersist(False)
        cells_df = None
        adjs = _fe_adjust_driver(
            cells_pdf, cc, dmv, ap_tol, scale, max(1000, ap_max_iter)
        )
        levels = {fe: len(adjs[fe]) for fe in cc}
        if fast_gram:
            wv = cells_pdf["__w"].to_numpy(np.float64)
            S = [
                cells_pdf[f"__s_{d}"].to_numpy(np.float64) for d in dmv
            ]
            adj_cell = [np.zeros(len(wv)) for _ in dmv]
            for fe in cc:
                t = adjs[fe].set_index(fe)
                for di, d in enumerate(dmv):
                    adj_cell[di] += (
                        t[f"__adj_{d}"]
                        .reindex(cells_pdf[fe])
                        .to_numpy(np.float64)
                    )
            R = [
                S[di] / wv - adj_cell[di] for di in range(len(dmv))
            ]
            G_full = np.zeros((len(dmv), len(dmv)))
            for i, j in dpairs:
                G_full[i, j] = G_full[j, i] = float(
                    float(gate[f"__win_{i}_{j}"] or 0.0)
                    + (wv * R[i] * R[j]).sum()
                )
            # Cancellation guard (review r14b): the one-pass within
            # formula loses ~log10(ss/G) digits to cancellation on
            # data with a dominant un-centered level (y ≈ 1e8 + signal
            # makes p and s²/w cancel catastrophically). When any
            # demeaned diagonal retains < ~8 safe digits relative to
            # its raw second moment, discard the fast result and fall
            # back to the demeaned-row Gram (exact on O(σ)-sized
            # values) — accuracy over the saved pass.
            ok = True
            for i, d in enumerate(dmv):
                ssv = float(gate[f"__ss_{d}"] or 0.0)
                if ssv > 0.0 and not G_full[i, i] > ssv * 1e-8:
                    ok = False
                    break
            if ok:
                fast = (G_full, int(round(float(wv.sum()))))
        if fast is None:
            for i, fe in enumerate(cc):
                adf = adjs[fe].rename(
                    columns={f"__adj_{d}": f"__adj{i}_{d}" for d in dmv}
                )
                sw = sw.join(
                    F.broadcast(df.sparkSession.createDataFrame(adf)),
                    on=fe,
                    how="left",
                )
            zero = F.lit(0.0)
            sw = sw.select(
                *keep,
                *[
                    (
                        F.col(d)
                        - sum(
                            (
                                F.coalesce(
                                    F.col(f"__adj{i}_{d}"), F.lit(0.0)
                                )
                                for i in range(len(cc))
                            ),
                            zero,
                        )
                    ).alias(d)
                    for d in dmv
                ],
            )
    else:
        # Distributed sweeps — on the compressed weighted CELL table
        # when the distinct FE-combination count is well under the row
        # count (AP's subtracted means are cell-constant, so weighted
        # cell sweeps are identical math at |cells| rows per sweep),
        # else on the full data. The persisted gate cell table already
        # holds per-cell weights + sums — the means table is a narrow
        # projection of it, no second full-data groupBy (round-14).
        cells = cells_df.select(
            *cc, "__w",
            *[(F.col(f"__s_{d}") / F.col("__w")).alias(d) for d in dmv],
        )
        levels = {fe: cells_df.select(fe).distinct().count() for fe in cc}
        if n_cells <= n_rows // 2:
            cw, finish = _ap_sweeps_distributed(
                cells, cc, dmv, list(cc) + ["__w"], levels, "__w",
                scale, ap_tol, ap_max_iter,
            )
            adj = cells.select(
                *cc, *[F.col(d).alias(f"__m0_{d}") for d in dmv]
            ).join(cw.select(*cc, *dmv), on=list(cc)).select(
                *cc,
                *[
                    (F.col(f"__m0_{d}") - F.col(d)).alias(a)
                    for d, a in adj_cols.items()
                ],
            )
            sw = sw.join(adj, on=list(cc), how="left").select(
                *keep,
                *[
                    (F.col(d) - F.coalesce(F.col(a), F.lit(0.0))).alias(d)
                    for d, a in adj_cols.items()
                ],
            )
        else:
            cells_df.unpersist(False)
            cells_df = None
            sw, finish = _ap_sweeps_distributed(
                sw, cc, dmv, keep, levels, None, scale, ap_tol, ap_max_iter
            )

    dm_x = [dm[c] for c in x_cols]
    dm_y = [dm[c] for c in y_cols]
    if fast is not None:
        G_full, n = fast
        k_x = len(x_cols)
        G_dm = G_full[:k_x, :k_x]
        Xty = G_full[:k_x, k_x:]
    else:
        G_dm, Xty, n = gram_matrix(sw, dm_x, dm_y)
    # gram materialized everything upstream; intermediate sweep
    # checkpoints/means are dead. (`cw`/`cells_df` stay alive — the
    # variance path below re-scans `sw`, whose plan references them —
    # and are released with the sweep table at function exit.)
    if finish is not None:
        finish()
    x_used = list(x_cols)
    if check_rank:
        ci, ki = find_collinear_cols_gram(G_dm, tol=tol)
        if ci:
            x_used = [x_cols[i] for i in ki]
            dm_x = [dm_x[i] for i in ki]
            G_dm = G_dm[np.ix_(ki, ki)]
            Xty = Xty[ki, :]
    b_x = _solve(G_dm, Xty)

    res = EstimateResult(
        b=b_x, coef_names=list(x_used), x_cols=list(x_used),
        plan="alternating", n=n,
    )

    # FE recovery by back-fitting on r = y − x·b (few sweeps) over the
    # ORIGINAL df — behind a builder closure so NOTHING (not even plan
    # construction — AQE runs checkpoint stages at creation) happens
    # unless the caller reads ``fixed_effects`` / ``residuals``.
    def _build_backfit():
        resid_cols = [f"resid_{yc}" for yc in y_cols]
        eff_cols = [f"fe_{yc}" for yc in y_cols]
        fe_tables: dict[str, DataFrame] = {}
        cur = _append_residuals(df, y_cols, x_used, b_x)
        for _ in range(3):
            for fe in cc:
                # The back-fit runs over the ORIGINAL df, so a null FE
                # level can reach these joins — use null-safe equality
                # (groupBy keeps the null group; a plain equi-join
                # would silently never subtract its effect).
                inc = cur.groupBy(fe).agg(
                    *[F.avg(rc).alias(ec) for rc, ec in zip(resid_cols, eff_cols)]
                )
                inc_j = inc.select(F.col(fe).alias("__bfk"), *eff_cols)
                cur = cur.join(
                    F.broadcast(inc_j),
                    on=F.col(fe).eqNullSafe(F.col("__bfk")),
                    how="left",
                ).select(
                    *[c for c in cur.columns if c not in resid_cols],
                    *[
                        (F.col(rc) - F.coalesce(F.col(ec), F.lit(0.0))).alias(rc)
                        for rc, ec in zip(resid_cols, eff_cols)
                    ],
                ).drop("__bfk", *eff_cols)
                # Accumulate this round's increment into the FE's table.
                if fe in fe_tables:
                    prev = fe_tables[fe]
                    joined = prev.join(
                        inc.select(
                            F.col(fe).alias("__ik"),
                            *[F.col(ec).alias(f"__i_{ec}") for ec in eff_cols],
                        ),
                        on=F.col(fe).eqNullSafe(F.col("__ik")),
                        how="outer",
                    )
                    fe_tables[fe] = joined.select(
                        # A null-level row matches null-safely, so
                        # coalescing the two keys is exact: null+null →
                        # null (the real level), one-sided → that side.
                        F.coalesce(F.col(fe), F.col("__ik")).alias(fe),
                        *[
                            (
                                F.coalesce(F.col(ec), F.lit(0.0))
                                + F.coalesce(F.col(f"__i_{ec}"), F.lit(0.0))
                            ).alias(ec)
                            for ec in eff_cols
                        ],
                    )
                else:
                    fe_tables[fe] = inc
            cur = cur.localCheckpoint(eager=False)
        fe_out = {
            fe: t.localCheckpoint(eager=False) for fe, t in fe_tables.items()
        }
        return fe_out, cur

    res._lazy_tables = _build_backfit

    if estimate_variance:
        # Slopes-only variance on the fully-demeaned model with
        # absorbed-dof correction (reghdfe convention). Residuals come
        # from the already-converged narrow sweep table (r = ỹ − X̃b —
        # identical to the FE-netted residual at convergence), so the
        # back-fit pipeline is not executed for variance.
        k_absorbed = levels[cc[0]] + sum(levels[fe] - 1 for fe in cc[1:])
        k_total = len(x_used) + k_absorbed
        S_inv = np.linalg.pinv(G_dm)
        swr = _append_residuals(sw, dm_y, dm_x, b_x)
        rdm_cols = [f"resid_{d}" for d in dm_y]
        if cluster is not None:
            meat = _cluster_meat_multiway(swr, cluster, rdm_cols, dm_x)
            res.V = [S_inv @ meat[rc] @ S_inv for rc in rdm_cols]
        elif robust:
            meat = _hc1_meat(swr, rdm_cols, dm_x)
            hc1 = n / max(n - k_total, 1)
            res.V = [S_inv @ meat[rc] @ S_inv * hc1 for rc in rdm_cols]
        else:
            rss = _sum_sq(swr, rdm_cols)
            dof = max(n - k_total, 1)
            res.V = [S_inv * (float(es) / dof) for es in rss]
        res.v_coef_names = list(x_used)
    # Gram + variance are done with the sweep table; nothing returned
    # references it (back-fit reads the original df), so release the
    # final checkpoint's / cell-table blocks before handing back.
    if fast is None:
        _unpersist_checkpoint(sw)
    if cw is not None:
        _unpersist_checkpoint(cw)
    if cells_df is not None:
        cells_df.unpersist(False)
    return res


# ------------------------------------------- Beyond-reference estimators
#
# The reference stops at OLS with FEs (hdfe/hdfe.py:49-181). The three
# estimators below complete the applied-econometrics workflow on the
# SAME physical skeleton — one fused whole-stage-codegen'd moment
# aggregation, a tiny driver-side solve, nothing data-sized collected —
# so they inherit the 100 TB envelope of `gram_matrix`.


def wls(
    df: DataFrame,
    y: str | Sequence[str],
    x: str | Sequence[str],
    weights: str,
    estimate_variance: bool = False,
) -> EstimateResult:
    """Weighted least squares: ``b = (X'WX)⁻¹ X'Wy`` for a known
    per-row weight column (inverse-variance weights, frequency
    weights, propensity weights).

    One fused aggregation computes the weighted Gram ``X'WX``, the
    weighted cross-moments ``X'Wy``, the weighted total ``y'Wy`` per
    outcome, and ``n`` — k(k+1)/2 + k·m + m + 1 doubles to the driver
    regardless of data size. Variance (``estimate_variance=True``) is
    the classic known-weights GLS form ``V = σ̂² (X'WX)⁻¹`` with
    ``σ̂² = Σ wᵢeᵢ² / (n − k)``, where ``Σ we²`` comes closed-form from
    the same pass (``y'Wy − 2b'X'Wy + b'X'WX b``) — no residual scan.

    NULL contract (listwise deletion, ADVICE r12; NaN-as-missing,
    ADVICE r13): the estimating sample is the rows where the weight,
    EVERY x, and EVERY y are non-NULL and non-NaN (NaN passes
    ``isNotNull`` and would poison every moment it touches) — ONE
    shared mask gates every moment sum AND ``n``, so a
    NULL-y row can never contribute to X'WX while missing from X'Wy
    (the inconsistent-sample bug class), and dof counts the sample
    actually estimated. Negative weights raise (they would silently
    produce an indefinite X'WX); the check rides the same single pass
    as one extra counter.
    """
    y_cols = _as_list(y)
    x_cols = list(_as_list(x))
    k, m = len(x_cols), len(y_cols)
    w = F.col(weights)
    valid = _and_complete(F.lit(True), df, [weights] + x_cols + y_cols)

    exprs = [
        F.sum(F.when(valid, 1).otherwise(0)).alias("__n"),
        F.sum(F.when(valid & (w < 0), 1).otherwise(0)).alias("__negw"),
    ]
    for i in range(k):
        for j in range(i, k):
            exprs.append(
                F.sum(F.when(valid, w * F.col(x_cols[i]) * F.col(x_cols[j])))
                .alias(f"__g_{i}_{j}")
            )
    for i in range(k):
        for j in range(m):
            exprs.append(
                F.sum(F.when(valid, w * F.col(x_cols[i]) * F.col(y_cols[j])))
                .alias(f"__xy_{i}_{j}")
            )
    for j in range(m):
        exprs.append(
            F.sum(F.when(valid, w * F.col(y_cols[j]) * F.col(y_cols[j])))
            .alias(f"__yy_{j}")
        )
    row = df.agg(*exprs).collect()[0]
    if int(row["__negw"] or 0) > 0:
        raise ValueError(
            f"wls: {int(row['__negw'])} rows carry a negative weight;"
            " X'WX would be indefinite, clip or filter weights first"
        )

    n = int(row["__n"] or 0)
    G = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k):
            v = row[f"__g_{i}_{j}"]
            G[i, j] = G[j, i] = 0.0 if v is None else float(v)
    Xty = np.zeros((k, m))
    for i in range(k):
        for j in range(m):
            v = row[f"__xy_{i}_{j}"]
            Xty[i, j] = 0.0 if v is None else float(v)

    b = _solve(G, Xty)
    res = EstimateResult(
        b=b, coef_names=list(x_cols), x_cols=list(x_cols), plan="wls", n=n,
    )
    if estimate_variance:
        G_inv = np.linalg.pinv(G)
        dof = max(n - k, 1)
        res.V = []
        for j in range(m):
            yy = float(row[f"__yy_{j}"] or 0.0)
            bj = b[:, j]
            wrss = yy - 2.0 * float(bj @ Xty[:, j]) + float(bj @ G @ bj)
            res.V.append(G_inv * (max(wrss, 0.0) / dof))
        res.v_coef_names = list(x_cols)
    return res


def iv_2sls(
    df: DataFrame,
    y: str | Sequence[str],
    x_endog: str | Sequence[str],
    instruments: str | Sequence[str],
    x_exog: str | Sequence[str] | None = None,
    estimate_variance: bool = False,
) -> EstimateResult:
    """Linear instrumental variables / two-stage least squares.

    ``X = [x_endog | x_exog]`` (the structural regressors),
    ``Z = [instruments | x_exog]`` (exogenous columns instrument
    themselves). Requires the order condition
    ``len(instruments) ≥ len(x_endog)``; just-identified systems
    reduce algebraically to ``b = (Z'X)⁻¹ Z'y``, over-identified ones
    use the 2SLS projection ``b = (X'P_Z X)⁻¹ X'P_Z y`` with
    ``P_Z = Z(Z'Z)⁻¹Z'`` — both computed here from the SAME moment
    blocks, so the code path is one formula.

    ONE fused aggregation produces every block — ``Z'Z``, ``Z'X``,
    ``Z'y``, ``X'X``, ``X'y``, ``y'y``, ``n`` — and the driver does
    kz×k linear algebra. The 2SLS residual is against the ORIGINAL X
    (the 2SLS convention), and its sum of squares comes closed-form
    from the collected blocks (``y'y − 2b'X'y + b'X'X b``), so
    variance needs no second scan: ``V = σ̂² (X'P_Z X)⁻¹``,
    ``σ̂² = Σe²/(n − k)``. ``first_stage`` on the result is the
    (kz × k) matrix ``(Z'Z)⁻¹ Z'X`` of first-stage coefficients.
    """
    y_cols = _as_list(y)
    endog = list(_as_list(x_endog))
    instr = list(_as_list(instruments))
    exog = list(_as_list(x_exog)) if x_exog else []
    if len(instr) < len(endog):
        raise ValueError(
            f"under-identified: {len(instr)} instruments for"
            f" {len(endog)} endogenous regressors"
        )
    x_cols = endog + exog
    z_cols = instr + exog
    dup = set(endog) & set(instr)
    if dup:
        raise ValueError(
            f"columns {sorted(dup)} listed as both endogenous and"
            " instrument — an endogenous regressor cannot instrument"
            " itself"
        )
    k, kz, m = len(x_cols), len(z_cols), len(y_cols)

    # Moment blocks over the union of needed pairs, one aggregation.
    pairs: dict[tuple[str, str], str] = {}

    def _key(a: str, bcol: str) -> str:
        pr = (a, bcol) if a <= bcol else (bcol, a)
        if pr not in pairs:
            pairs[pr] = f"__p_{len(pairs)}"
        return pairs[pr]

    for a in z_cols:
        for bcol in z_cols + x_cols + y_cols:
            _key(a, bcol)
    for a in x_cols:
        for bcol in x_cols + y_cols:
            _key(a, bcol)
    for yc in y_cols:
        _key(yc, yc)
    # NULL contract (listwise deletion, ADVICE r12; NaN-as-missing,
    # ADVICE r13): ONE shared mask — rows where every y, x, and
    # instrument column is non-NULL and non-NaN — gates every moment
    # sum AND n, so Z'Z / Z'y can never disagree on the estimating
    # sample and dof counts the rows actually estimated.
    valid = _and_complete(
        F.lit(True), df, list(dict.fromkeys(z_cols + x_cols + y_cols))
    )
    exprs = [F.sum(F.when(valid, 1).otherwise(0)).alias("__n")] + [
        F.sum(F.when(valid, F.col(a) * F.col(bcol))).alias(alias)
        for (a, bcol), alias in pairs.items()
    ]
    row = df.agg(*exprs).collect()[0]
    n = int(row["__n"] or 0)

    def _m(a: str, bcol: str) -> float:
        v = row[_key(a, bcol)]
        return 0.0 if v is None else float(v)

    ZZ = np.array([[_m(a, bcol) for bcol in z_cols] for a in z_cols])
    ZX = np.array([[_m(a, bcol) for bcol in x_cols] for a in z_cols])
    Zy = np.array([[_m(a, yc) for yc in y_cols] for a in z_cols])
    XX = np.array([[_m(a, bcol) for bcol in x_cols] for a in x_cols])
    Xy = np.array([[_m(a, yc) for yc in y_cols] for a in x_cols])

    A = np.linalg.pinv(ZZ)
    XPX = ZX.T @ A @ ZX
    XPy = ZX.T @ A @ Zy
    b = _solve(XPX, XPy)

    res = EstimateResult(
        b=b, coef_names=list(x_cols), x_cols=list(x_cols), plan="2sls", n=n,
    )
    res.first_stage = A @ ZX
    res.first_stage_names = (list(z_cols), list(x_cols))
    if estimate_variance:
        XPX_inv = np.linalg.pinv(XPX)
        dof = max(n - k, 1)
        res.V = []
        for j in range(m):
            yy = _m(y_cols[j], y_cols[j])
            bj = b[:, j]
            rss = yy - 2.0 * float(bj @ Xy[:, j]) + float(bj @ XX @ bj)
            res.V.append(XPX_inv * (max(rss, 0.0) / dof))
        res.v_coef_names = list(x_cols)
    return res


def fit_stats(
    df: DataFrame,
    y: str,
    x: str | Sequence[str],
    categorical_controls: str | Sequence[str] | None = None,
) -> dict:
    """Goodness-of-fit panel for the (within-)OLS fit: R², adjusted
    R², and the F statistic of the slope block.

    With ``categorical_controls=[fe]`` this is the **within** fit
    (reghdfe's ``R² within``): y and x are demeaned inside each FE
    level by one window pass, absorbing the G level means; without
    FEs the data is centered once (the intercept-model equivalent,
    G = 1) using closed-form centered moments — no window, no second
    scan. Either way the demeaned/centered Gram (x's AND y in one
    ``gram_matrix`` pass) gives everything closed-form:
    ``RSS = ỹ'ỹ − b'X̃'ỹ``, ``TSS = ỹ'ỹ``,
    ``R² = 1 − RSS/TSS``,
    ``adj R² = 1 − (RSS/(n−G−k)) / (TSS/(n−G))``,
    ``F = ((TSS−RSS)/k) / (RSS/(n−G−k))`` on (k, n−G−k) dof.
    Only a (k+1)² moment block (plus one countDistinct for G) reaches
    the driver. Multi-FE fit stats come from running the demeaned
    data through this after `estimate`'s alternating sweep — this
    helper covers the 0/1-FE plans the reference dispatches to.
    """
    x_cols = list(_as_list(x))
    cc = list(_as_list(categorical_controls)) if categorical_controls else []
    if len(cc) > 1:
        raise ValueError("fit_stats supports at most one absorbed FE")
    k = len(x_cols)

    if cc:
        fe = cc[0]
        # NULL contract (ADVICE r12): restrict to complete (x, y) rows
        # BEFORE the window so the absorbed group means, the Gram, and
        # n all describe the same estimating sample (a NULL FE level
        # stays — it is its own absorbed group).
        complete = _and_complete(F.lit(True), df, x_cols + [y])
        df = df.filter(complete)
        cols = x_cols + [y]
        # Moment fast path (optimization r16, guide §2.3/§2.4): the
        # demeaned moment matrix M is a sum of per-fe-level central
        # moments, so ONE groupBy(fe) pass (map-side partials, level-
        # sized exchange) replaces the full-data window shuffle+sort —
        # and its reduction row carries the level count, replacing the
        # separate countDistinct job. The complete-row filter above
        # means the NULL/NaN decline can only trip on exotic dtypes;
        # any decline (or the cancellation guard) falls back to the
        # exact window path unchanged.
        fast = None
        if len(set(cols)) == len(cols) and len(cols) <= _WITHIN_FAST_MAX_COLS:
            fast = _within_moments_gram(df, fe, x_cols, [y])
        if fast is not None:
            _, _, n, M, n_groups, m_loss = fast
            # RSS cancellation guard (review r16 — CONFIRMED finding):
            # the closed-form rss = tss − b'X̃'y below subtracts two
            # loss-amplified moment quantities, so near R² = 1 the
            # moment M diverges measurably from the window M. Same
            # decline rule as _rss_from_moments: require ~8 safe
            # digits at the moment error scale, else take the window
            # path whose M carries only 1e-16·entry error.
            b_g = _solve(M[:k, :k], M[:k, k].reshape(k, 1))[:, 0]
            fit_g = float(b_g @ M[:k, k])
            tss_g = float(M[k, k])
            pos_g = abs(tss_g) + abs(fit_g)
            if pos_g > 0.0 and not (
                (tss_g - fit_g) > pos_g * 1e-8 * max(m_loss, 1.0)
            ):
                fast = None
        if fast is None:
            wspec = Window.partitionBy(fe)
            dm = [f"__dm_{c}" for c in cols]
            work = df.select(
                *[
                    (F.col(c) - F.avg(c).over(wspec)).alias(d)
                    for c, d in zip(cols, dm)
                ]
            )
            M, _, n = gram_matrix(work, dm, None)
            # A NULL FE level is its own absorbed group (the window
            # demeans it like any other partition), but countDistinct
            # skips NULL — add it back so dof matches what was absorbed
            # (review r12; _plan_within's fe_agg.count() gets this free).
            grow = df.agg(
                F.countDistinct(F.col(fe)).alias("g"),
                F.max(F.col(fe).isNull().cast("int")).alias("has_null"),
            ).collect()[0]
            n_groups = int(grow["g"]) + int(grow["has_null"] or 0)
    else:
        # Centered moments closed-form: S_c = S_raw − n·mm' (one pass).
        # NULL contract (ADVICE r12): one shared complete-row mask
        # gates every sum AND n, so the centering means, the Gram, and
        # the dof all describe the same estimating sample.
        cols = x_cols + [y]
        valid = _and_complete(F.lit(True), df, cols)
        exprs = [F.sum(F.when(valid, 1).otherwise(0)).alias("__n")]
        exprs += [
            F.sum(F.when(valid, F.col(c))).alias(f"__s_{i}")
            for i, c in enumerate(cols)
        ]
        for i in range(len(cols)):
            for j in range(i, len(cols)):
                exprs.append(
                    F.sum(F.when(valid, F.col(cols[i]) * F.col(cols[j])))
                    .alias(f"__g_{i}_{j}")
                )
        row = df.agg(*exprs).collect()[0]
        n = int(row["__n"] or 0)
        s = np.array(
            [float(row[f"__s_{i}"] or 0.0) for i in range(len(cols))]
        )
        M = np.zeros((len(cols), len(cols)))
        for i in range(len(cols)):
            for j in range(i, len(cols)):
                v = row[f"__g_{i}_{j}"]
                M[i, j] = M[j, i] = 0.0 if v is None else float(v)
        mean = s / max(n, 1)
        M = M - n * np.outer(mean, mean)
        n_groups = 1

    G_dm = M[:k, :k]
    Xty = M[:k, k]
    tss = float(M[k, k])
    b = _solve(G_dm, Xty.reshape(k, 1))[:, 0]
    rss = max(tss - float(b @ Xty), 0.0)
    df2 = max(n - n_groups - k, 1)
    df_t = max(n - n_groups, 1)
    r2 = 1.0 - rss / tss if tss > 0 else float("nan")
    adj = 1.0 - (rss / df2) / (tss / df_t) if tss > 0 else float("nan")
    f_stat = ((tss - rss) / k) / (rss / df2) if rss > 0 else float("inf")
    return {
        "r2": r2, "adj_r2": adj, "f_stat": f_stat,
        "df1": k, "df2": df2, "n": n, "n_groups": n_groups,
        "rss": rss, "tss": tss, "b": b, "coef_names": list(x_cols),
    }


def hausman(res_consistent, res_efficient) -> dict:
    """Hausman specification test between two fitted results sharing
    slope coefficients (classically: the consistent-under-H1 within/
    FE fit vs the efficient-under-H0 pooled fit).

    ``H = d' (V_c − V_e)⁺ d`` over the COMMON slope names. The V
    difference can be singular or even INDEFINITE in finite samples
    (e.g. under strong confounding the "efficient" fit's residual
    variance balloons) — the standard repair applied here is the
    PSD projection: eigen-decompose, clip negative eigenvalues to
    zero, pseudo-invert; dof = the retained rank. H is then always
    ≥ 0 and equals the textbook statistic whenever the difference is
    PSD. Pure driver-side algebra over already-computed
    EstimateResult objects: zero Spark jobs, so it composes with any
    plan's output. Requires both results to carry a variance
    (estimate_variance=True) for the first outcome.

    Returns ``{h_stat, dof, coef_names, d, degenerate[, p_value]}``.
    ``degenerate=True`` (dof 0 — no positive eigenvalue survives)
    means the test cannot reject; ``p_value`` is pinned to 1.0 and H
    to 0 so callers never evaluate a 0-dof chi-square.
    """
    if not res_consistent.V or not res_efficient.V:
        raise ValueError("hausman needs estimate_variance=True on both fits")
    # Intersect SLOPES only (x_cols), not v_coef_names: the small-FE
    # within path sets v_coef_names to the full [FE levels | slopes]
    # block, and a shared FE-level name is not a slope (review r12b).
    slope_ok = (
        set(res_consistent.x_cols) & set(res_efficient.x_cols)
        & set(res_consistent.v_coef_names) & set(res_efficient.v_coef_names)
    )
    names = [c for c in res_consistent.x_cols if c in slope_ok]
    if not names:
        raise ValueError("hausman: no common slope coefficients")
    ic = [res_consistent.v_coef_names.index(c) for c in names]
    ie = [res_efficient.v_coef_names.index(c) for c in names]
    bc = res_consistent.slopes[
        [res_consistent.x_cols.index(c) for c in names], 0
    ]
    be = res_efficient.slopes[
        [res_efficient.x_cols.index(c) for c in names], 0
    ]
    d = bc - be
    dV = (
        res_consistent.V[0][np.ix_(ic, ic)]
        - res_efficient.V[0][np.ix_(ie, ie)]
    )
    dV = (dV + dV.T) / 2.0
    evals, evecs = np.linalg.eigh(dV)
    tol = max(abs(float(evals[0])), abs(float(evals[-1])), 1e-300) * 1e-12
    keep = evals > tol
    if not bool(keep.any()):
        # No usable positive direction: the consistent fit is nowhere
        # noisier than the efficient one — the test is DEGENERATE (a
        # chi-square with 0 dof is undefined; scipy.stats.chi2.sf(h, 0)
        # is NaN).  Callers must read degenerate=True as "no evidence
        # against H0" — p_value is pinned to 1.0 here so downstream
        # code never feeds dof=0 to a chi-square (ADVICE r12).
        return {
            "h_stat": 0.0, "dof": 0, "coef_names": names, "d": d,
            "degenerate": True, "p_value": 1.0,
        }
    inv_part = evecs[:, keep] @ np.diag(1.0 / evals[keep]) @ evecs[:, keep].T
    h = float(d @ inv_part @ d)
    dof = int(keep.sum())
    return {
        "h_stat": h, "dof": dof, "coef_names": names, "d": d,
        "degenerate": False,
    }


def wls_within(
    df: DataFrame,
    y: str | Sequence[str],
    x: str | Sequence[str],
    fe: str,
    weights: str,
    estimate_variance: bool = False,
) -> EstimateResult:
    """Weighted within/FE estimation — `wls` with one absorbed fixed
    effect (reghdfe's ``areg y x [aw=w], absorb(fe)`` shape; the
    reference's within plan ``hdfe/hdfe.py:88-120`` + analytic
    weights, which it lacks): demean y and x by their WEIGHTED
    per-level means (the weighted projection onto the FE dummies —
    FWL holds under GLS weighting), then run the weighted normal
    equations on the demeaned frame.

    Composition, not re-implementation: one groupBy computes the
    weighted level means (G rows — also giving the absorbed-group
    count for dof), one AQE-planned join demeans, and `wls` supplies
    the fused weighted-moment pass; the variance is `wls`'s
    known-weights GLS form RESCALED to the within dof
    ``n − G − k`` (the absorbed means consume G parameters the inner
    `wls` cannot see). NULL contract: listwise over (weights, x, y)
    — `wls`'s r13 discipline — PLUS zero-weight rows excluded (the
    analytic-weights convention: they contribute to no moment, and
    an all-zero-weight FE level must not count toward the absorbed
    dof); a NULL FE level is its own absorbed group; negative
    weights raise inside `wls`.

    Scale: the means table is FE-cardinality-sized (never the fact
    table); the fact table is joined once and never shuffled
    afterward — `wls`'s moment pass is map-side combined.
    """
    y_cols = _as_list(y)
    x_cols = list(_as_list(x))
    cols = x_cols + list(y_cols)
    w = F.col(weights)
    # Estimating sample: complete (w, x, y) rows with w > 0 — a
    # zero-weight row contributes nothing to any moment, and keeping
    # it would let an all-zero-weight FE level count toward the
    # absorbed dof while estimating nothing (review r13b); negative
    # weights still raise inside `wls`.
    complete = _and_complete(w.isNotNull() & (w > 0), df, [weights] + cols)
    base = df.filter(complete)
    # The means table is FE-cardinality-sized: persist it so the
    # eager group count and the demeaning join share ONE aggregation
    # of the fact table instead of recomputing the lineage twice
    # (review r13b).
    means = base.groupBy(F.col(fe).alias("__fe")).agg(
        *[
            (F.sum(w * F.col(c)) / F.sum(w)).alias(f"__m_{c}")
            for c in cols
        ]
    ).persist()
    n_groups = means.count()
    work = base.join(
        means, F.col(fe).eqNullSafe(F.col("__fe")), "left"
    ).select(
        F.col(weights),
        *[
            (F.col(c) - F.col(f"__m_{c}")).alias(f"__dm_{c}")
            for c in cols
        ],
    )
    try:
        res = wls(
            work,
            [f"__dm_{c}" for c in y_cols],
            [f"__dm_{c}" for c in x_cols],
            weights=weights,
            estimate_variance=estimate_variance,
        )
    finally:
        means.unpersist(False)
    res.plan = "wls_within"
    res._coef_names = list(x_cols)
    res.x_cols = list(x_cols)
    if estimate_variance:
        k = len(x_cols)
        dof_inner = max(res.n - k, 1)
        dof_within = max(res.n - n_groups - k, 1)
        res.V = [V * (dof_inner / dof_within) for V in res.V]
        res.v_coef_names = list(x_cols)
    res.n_absorbed = n_groups
    return res


def iv_within(
    df: DataFrame,
    y: "str | Sequence[str]",
    x_endog: "str | Sequence[str]",
    instruments: "str | Sequence[str]",
    fe: str,
    estimate_variance: bool = False,
) -> EstimateResult:
    """2SLS with one absorbed fixed effect (round 15) — the
    ``ivreghdfe`` shape: `iv_2sls` after within-demeaning every y,
    endogenous x, and instrument by its FE-level mean (FWL: the
    projection onto the FE dummies commutes with the IV projection
    when BOTH stages are demeaned by the same groups), completing
    the estimation family beside `wls_within` (reference surface
    ``hdfe/hdfe.py:88-120`` + the instrumenting the reference
    lacks).

    Composition, not re-implementation: one groupBy computes the
    per-level means (G rows — also the absorbed-group count for
    dof), one AQE-planned join demeans, and `iv_2sls` supplies the
    fused Z/X/y moment pass and the kz×k driver solve; the
    homoskedastic variance is `iv_2sls`'s sandwich RESCALED to the
    within dof ``n − G − k`` (the absorbed means consume G
    parameters the inner solve cannot see — the `wls_within`
    convention). NULL contract: ONE listwise mask over every y, x,
    and instrument column (NaN-as-missing, the r13 discipline); a
    NULL FE level is its own absorbed group.

    Scale: the means table is FE-cardinality-sized (never the fact
    table); the fact table joins once and is never shuffled
    afterward — the moment pass is map-side combined.
    """
    y_cols = _as_list(y)
    x_cols = list(_as_list(x_endog))
    z_cols = list(_as_list(instruments))
    # name-only checks BEFORE the first Spark action: a self-
    # instrumenting or under-identified call must fail in
    # microseconds, not after a full fact-table means pass
    # (iv_2sls would catch both, but only after the aggregation —
    # review r15)
    dup = set(x_cols) & set(z_cols)
    if dup:
        raise ValueError(
            f"columns {sorted(dup)} listed as both endogenous and"
            " instrument — an endogenous regressor cannot instrument"
            " itself"
        )
    if len(z_cols) < len(x_cols):
        raise ValueError(
            f"iv_within: under-identified — {len(x_cols)} endogenous"
            f" regressors but only {len(z_cols)} instruments"
        )
    cols = list(dict.fromkeys(x_cols + z_cols + list(y_cols)))
    complete = _and_complete(F.lit(True), df, cols)
    base = df.filter(complete)
    # FE-cardinality-sized means table; persist so the group count
    # and the demeaning join share one fact-table aggregation (the
    # wls_within review-r13b discipline)
    means = base.groupBy(F.col(fe).alias("__fe")).agg(
        *[
            (F.sum(F.col(c)) / F.count(F.lit(1))).alias(f"__m_{c}")
            for c in cols
        ]
    ).persist()
    n_groups = means.count()
    work = base.join(
        means, F.col(fe).eqNullSafe(F.col("__fe")), "left"
    ).select(
        *[
            (F.col(c) - F.col(f"__m_{c}")).alias(f"__dm_{c}")
            for c in cols
        ],
    )
    try:
        res = iv_2sls(
            work,
            [f"__dm_{c}" for c in y_cols],
            [f"__dm_{c}" for c in x_cols],
            [f"__dm_{c}" for c in z_cols],
            estimate_variance=estimate_variance,
        )
    finally:
        means.unpersist(False)
    res.plan = "iv_within"
    res._coef_names = list(x_cols)
    res.x_cols = list(x_cols)
    res.first_stage_names = (list(z_cols), list(x_cols))
    if estimate_variance:
        k = len(x_cols)
        dof_inner = max(res.n - k, 1)
        dof_within = max(res.n - n_groups - k, 1)
        res.V = [V * (dof_inner / dof_within) for V in res.V]
        res.v_coef_names = list(x_cols)
    res.n_absorbed = n_groups
    return res
