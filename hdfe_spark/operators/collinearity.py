"""Multicollinearity detection & repair via distributed Gram + local QR.

Reference parity: ``find_collinear_cols`` / ``remove_collinear_cols`` /
``remove_cols_from_csc`` (``hdfe/multicollinearity.py:8-138``).

Algorithm (same as the reference, re-based onto the Gram):

1. Compute ``G = X'X`` (k×k). The reference already uses this trick
   for non-square X (``hdfe/multicollinearity.py:75-78``); here the
   Gram is the *only* data-sized computation and it is one distributed
   aggregation — ``k(k+1)/2`` sum-of-products expressions with
   map-side partial aggregation, one shuffle of k×k partials, nothing
   collected but the k×k result. ``gram_matrix`` is a thin wrapper
   over ``_moments``, the engine's one moment pass: ``n``, per-column
   sums and Σ w·cᵢcⱼ, optionally under a listwise mask, a weight, or
   per group reduced to within-group central moments (with the
   ``_centered_ok`` digits guard). Every Gram-shaped aggregation of
   the engine builds its moments through it: the ``estimate.py``
   estimators, sandwich tensors, exact meats and residual-scan RSS
   (several outcomes' sets in one aggregation via `_moment_sets`),
   the fixed-point DECIMAL(38,0) Grams of ``stats.ridge2``,
   ``stats.pca``, ``stats.pca2`` and ``validate.mahalanobis_outliers``
   (`_fixed_point_moments`), and ``causal.dml_plm``'s per-fold cells
   (`_moment_cells`).
2. Driver-side: rank of G; if deficient, QR of G and scan the R
   diagonal in column order against ``tol``
   (``hdfe/multicollinearity.py:86-101``). Columns of G carry exactly
   the same linear dependencies as columns of X (``Gv=0 ⟺ Xv=0``), so
   the scan identifies the same minimal collinear set; earlier columns
   win, so the caller must fix a deterministic column order
   (SURVEY.md §7.4 risk 4) — we use the caller's list order.
3. Repair = column pruning: ``df.select(keep)`` — a no-op for the
   scan (Catalyst prunes), unlike the reference's CSC splicing
   (``hdfe/multicollinearity.py:8-47``) which exists only because a
   global CSC matrix must be physically edited.

Note on tolerance: the reference applies ``tol=1e-12`` to R's diagonal
from a QR of X; we apply it to R from a QR of G = X'X, whose pivots
are (roughly) squared/rescaled. Exact linear dependence produces
pivots at rounding level (~1e-16·‖G‖) either way; for *near*
collinearity pass an explicit tol scaled to your data.
"""

from __future__ import annotations

import operator
import warnings
from collections.abc import Sequence
from functools import reduce
from typing import NamedTuple

import numpy as np
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


class _Moments(NamedTuple):
    """What one `_moments` aggregation returns (driver-side numpy)."""

    n: int  # rows (the ``valid`` rows when a mask is given)
    s: np.ndarray | None  # per-column Σ w·c (None with ``by``)
    M: np.ndarray  # Σ w·cᵢcⱼ; with ``by`` the within-group Σ_g(p − sᵢsⱼ/w)
    ss: np.ndarray  # the raw diagonal Σ w·c²
    groups: int  # ``by`` groups, a NULL group included (1 without ``by``)
    bad: bool  # a NULL/NaN flag tripped (``flags=True`` only)
    row: Row  # the collected row, for the caller's ``extra`` riders


def _sym_from_row(row, k: int, prefix: str, full: bool = True) -> np.ndarray:
    """Symmetric k×k ndarray from the upper-triangle aggregate columns
    ``{prefix}{i}_{j}`` (i ≤ j; the diagonal alone when not ``full``)
    of a collected row; NULL reads as 0."""
    M = np.zeros((k, k))
    for i in range(k):
        for j in range(i, k if full else i + 1):
            v = row[f"{prefix}{i}_{j}"]
            M[i, j] = M[j, i] = 0.0 if v is None else float(v)
    return M


def _null_nan_flags(df: DataFrame, cols, prefix: str = "__bad") -> list:
    """``max(isNull | isnan)`` rider expressions for ``cols`` — the
    missing-value rule of ``estimate._and_complete`` (NaN counts as
    missing for double/float columns) as aggregate flags, which the
    moment fast paths read to decide fallback."""
    dtypes = dict(df.dtypes)
    out = []
    for i, c in enumerate(cols):
        flag = F.col(c).isNull()
        if dtypes.get(c) in ("double", "float"):
            flag = flag | F.isnan(F.col(c))
        out.append(F.max(flag.cast("int")).alias(f"{prefix}_{i}"))
    return out


def _moment_aggs(
    cols: list, valid=None, weight=None, full: bool = True, prefix: str = ""
) -> list:
    """Aggregate expressions ``__w`` (row count), ``__s_{i}`` (Σ w·cᵢ)
    and ``__p_{i}_{j}`` (Σ w·cᵢcⱼ, upper triangle; the diagonal alone
    when not ``full``) over the Column expressions ``cols``, every sum
    gated by the ``valid`` mask when one is given. ``weight`` is a
    column name or a Column; ``prefix`` goes in front of every alias,
    so several sets can share one aggregation."""

    def kept(e):
        return e if valid is None else F.when(valid, e)

    if weight is not None:
        w = F.col(weight) if isinstance(weight, str) else weight
        wc = [w * c for c in cols]
    else:
        wc = cols
    k = len(cols)
    return [
        F.count(kept(F.lit(1))).alias(f"{prefix}__w"),
        *[F.sum(kept(wc[i])).alias(f"{prefix}__s_{i}") for i in range(k)],
        *[
            F.sum(kept(wc[i] * cols[j])).alias(f"{prefix}__p_{i}_{j}")
            for i in range(k)
            for j in range(i, k if full else i + 1)
        ],
    ]


def _moment_cells(
    df: DataFrame, cols: list[str], by, full: bool = True, flags: bool = False
) -> DataFrame:
    """Per-group moment table of `_moments` with ``by``: one row per
    level of ``by`` with ``__w``, ``__s_{i}``, ``__p_{i}_{j}`` over the
    columns cast to double (and the ``__bad_{i}`` NULL/NaN flags)."""
    by = [by] if isinstance(by, str) else list(by)
    dv = [F.col(c).cast("double") for c in cols]
    return df.groupBy(*by).agg(
        *_moment_aggs(dv, full=full),
        *(_null_nan_flags(df, cols) if flags else []),
    )


def _moment_sets(
    df: DataFrame, sets, valid=None, *, full: bool = True, extra: Sequence = ()
) -> list[_Moments]:
    """Several moment sets from ONE aggregation: one `_moments` result
    (without ``by``) per ``(cols, weight)`` pair of ``sets`` — e.g.
    one per outcome of a multi-outcome sandwich meat. Set ``t``'s
    aliases carry the prefix ``__{t}`` (none for the first); every
    result shares the collected ``row``, ``extra`` riders included."""
    dtypes = dict(df.dtypes)

    def cast(c):
        if dtypes.get(c, "").startswith("decimal"):
            return F.col(c)
        return F.col(c).cast("double")

    prefixes = [f"__{t}" if t else "" for t in range(len(sets))]
    row = df.agg(
        *[
            a
            for pre, (cols, weight) in zip(prefixes, sets)
            for a in _moment_aggs([cast(c) for c in cols], valid, weight, full, pre)
        ],
        *extra,
    ).collect()[0]
    out = []
    for pre, (cols, _) in zip(prefixes, sets):
        k = len(cols)
        M = _sym_from_row(row, k, f"{pre}__p_", full)
        s = np.array([float(row[f"{pre}__s_{i}"] or 0.0) for i in range(k)])
        n = int(row[f"{pre}__w"])
        out.append(_Moments(n, s, M, np.diag(M).copy(), 1, False, row))
    return out


def _moments(
    df: DataFrame,
    cols: Sequence[str],
    valid=None,
    weight=None,
    by=None,
    *,
    full: bool = True,
    flags: bool = False,
    extra: Sequence = (),
    cells: DataFrame | None = None,
) -> _Moments:
    """The engine's one moment pass: ``n``, the per-column sums and the
    symmetric matrix of Σ w·cᵢcⱼ over ``cols``, from ONE aggregation
    with map-side partials — only O(k²) numbers reach the driver.
    ``valid`` and ``weight`` apply without ``by`` only.

    - Without ``by`` every column but a DECIMAL one is cast to double
      (no long overflow, no float32 products); DECIMAL sums stay
      exact. NULL products are skipped pair by pair,
      and ``n`` counts every row — unless ``valid`` is given: then one
      listwise mask gates every sum and ``n`` counts the masked rows.
      ``weight`` (a column name or a Column) multiplies every sum:
      ``(w·cᵢ)·cⱼ``.
    - With ``by`` the columns are cast to double, a per-group
      ``(w, Σc, Σcᵢcⱼ)`` table is built (`_moment_cells`, or the
      prebuilt ``cells``), and a second aggregation over it reduces
      to the within-group central moments Σ_g(p − sᵢsⱼ/w) — stable
      because each difference cancels inside its own small group —
      plus the group count and the raw diagonal ``ss`` = Σc², against
      which `_centered_ok` checks the digits kept.

    ``full=False`` forms the diagonal only. ``flags=True`` adds the
    `_null_nan_flags` of ``cols`` (rolled up per group with ``by``).
    ``extra`` aggregate expressions ride the final aggregation; read
    them from ``row``.

    Callers: `gram_matrix`; in ``estimate.py`` the pooled one-passes
    (homoskedastic, and the sandwich tensors over the per-row or
    per-cluster cell table), `_within_moments_gram`, Plan C's cell
    table and gate, the residual-scan RSS, `wls`, `iv_2sls`,
    `fit_stats`, and through `_moment_sets` the exact cluster and HC1
    meats; through `_fixed_point_moments` the DECIMAL(38,0) Grams of
    ``stats.ridge2``, ``stats.pca``, ``stats.pca2`` and
    ``validate.mahalanobis_outliers``. ``causal.dml_plm`` reads the
    per-fold `_moment_cells` table itself.
    """
    cols = list(cols)
    k = len(cols)
    if by is None:
        mom = _moment_sets(
            df, [(cols, weight)], valid, full=full,
            extra=[*(_null_nan_flags(df, cols) if flags else []), *extra],
        )[0]
    else:
        if cells is None:
            cells = _moment_cells(df, cols, by, full, flags)
        row = cells.agg(
            F.sum("__w").alias("__n"),
            F.count(F.lit(1)).alias("__groups"),
            *[
                F.sum(
                    F.col(f"__p_{i}_{j}")
                    - F.col(f"__s_{i}") * F.col(f"__s_{j}") / F.col("__w")
                ).alias(f"__win_{i}_{j}")
                for i in range(k)
                for j in range(i, k if full else i + 1)
            ],
            *[F.sum(f"__p_{i}_{i}").alias(f"__ss_{i}") for i in range(k)],
            *[F.max(f"__bad_{i}").alias(f"__bad_{i}") for i in range(k) if flags],
            *extra,
        ).collect()[0]
        mom = _Moments(
            int(row["__n"] or 0),
            None,
            _sym_from_row(row, k, "__win_", full),
            np.array([float(row[f"__ss_{i}"] or 0.0) for i in range(k)]),
            int(row["__groups"]),
            False,
            row,
        )
    bad = flags and any(int(mom.row[f"__bad_{i}"] or 0) for i in range(k))
    return mom._replace(bad=bad)


def _fixed_point_moments(
    df: DataFrame, cols: Sequence[str], scale: float, op_name: str,
    complete: bool = True,
) -> _Moments:
    """Exact fixed-point moments: `_moments` over ``round(c·scale)``
    cast to DECIMAL(38,0), so every sum is an integer sum —
    order-free and engine-portable. ``complete`` keeps the rows where
    every column is non-NULL (``n`` counts them); without it NULL
    products are skipped pair by pair and ``n`` counts every row.
    A DECIMAL(38,0) overflow — of a value, a product or a sum —
    raises a ValueError naming ``op_name`` and the fix, a smaller
    ``scale``, instead of Spark's bare ArithmeticException; the guard
    runs no Spark job of its own."""
    cols = list(cols)
    if complete:
        df = df.filter(
            reduce(operator.and_, [F.col(c).isNotNull() for c in cols])
        )
    names = [f"__fp_{i}" for i in range(len(cols))]
    fixed = df.select(
        *[
            F.round(F.col(c) * scale).cast("decimal(38,0)").alias(name)
            for c, name in zip(cols, names)
        ]
    )
    try:
        return _moments(fixed, names)
    except ArithmeticException as e:
        if not (e.getCondition() or "").startswith(
            ("NUMERIC_VALUE_OUT_OF_RANGE", "ARITHMETIC_OVERFLOW")
        ):
            raise
        raise ValueError(
            f"{op_name}: the fixed-point moments of round(value*scale)"
            " overflow DECIMAL(38,0) — lower `scale` for this value"
            " range / row count"
        ) from e


def _centered_ok(M: np.ndarray, ss) -> float | None:
    """Cancellation guard of a centered (demeaned) moment matrix:
    every diagonal with ``ssᵢ = Σc² > 0`` must keep ~8 safe digits,
    ``Mᵢᵢ > 1e-8·ssᵢ`` (y ≈ 1e8 + signal cancels them all). Returns
    None on a trip, else the digit-loss factor ``max(1, ssᵢ/Mᵢᵢ)`` —
    the entries of M carry absolute error ~1e-16·ss = 1e-16·loss·Mᵢᵢ,
    so downstream subtractions scale their own guards by it."""
    loss = 1.0
    for i, s in enumerate(ss):
        if s > 0.0:
            if not M[i, i] > s * 1e-8:
                return None
            loss = max(loss, s / M[i, i])
    return loss


def gram_matrix(
    df: DataFrame,
    x_cols: Sequence[str],
    y_cols: Sequence[str] | None = None,
) -> tuple[np.ndarray, np.ndarray | None, int]:
    """One-pass distributed ``(X'X, X'y, n)``.

    Returns ``(G, Xty, n)`` with ``G`` k×k and ``Xty`` k×m (None when
    ``y_cols`` is None): the x and x-y blocks of one `_moments` pass
    over ``x_cols + y_cols``. NULL products are skipped pair by pair;
    ``n`` counts every row.
    """
    x_cols = list(x_cols)
    k = len(x_cols)
    mom = _moments(df, x_cols + list(y_cols or []))
    return mom.M[:k, :k], (mom.M[:k, k:] if y_cols else None), mom.n


def find_collinear_cols_gram(
    G: np.ndarray, tol: float = 1e-9, verbose: bool = False
) -> tuple[list[int], list[int]]:
    """QR-diagonal scan on a (driver-side) Gram matrix — the algorithm
    of ``hdfe/multicollinearity.py:75-108`` applied to G.

    Returns ``(collinear_idx, non_collinear_idx)``; earlier columns
    are preferentially kept.
    """
    k = G.shape[1]
    rank = int(np.linalg.matrix_rank(G))
    if rank == k:
        if verbose:
            print("Full rank")
        return [], list(range(k))

    _, r = np.linalg.qr(G)
    scale = max(abs(r[0, 0]), 1.0)
    collinear: list[int] = []
    keep: list[int] = []
    row = 0
    for col in range(k):
        if row >= r.shape[0]:
            collinear += list(range(col, k))
            break
        if abs(r[row, col]) < tol * scale:
            collinear.append(col)
        else:
            keep.append(col)
            row += 1
    if len(keep) != rank:
        warnings.warn(f"Rank is {rank}, but {len(keep)} columns kept.")
    if verbose:
        print("Number collinear", len(collinear))
    return collinear, keep


def find_collinear_cols(
    df: DataFrame,
    x_cols: Sequence[str],
    tol: float = 1e-9,
    verbose: bool = False,
) -> tuple[list[str], list[str]]:
    """Distributed form of ``find_collinear_cols``
    (``hdfe/multicollinearity.py:50-108``): one Gram pass + local scan.
    Returns ``(collinear_names, non_collinear_names)``.
    """
    x_cols = list(x_cols)
    G, _, _ = gram_matrix(df, x_cols)
    ci, ki = find_collinear_cols_gram(G, tol=tol, verbose=verbose)
    return [x_cols[i] for i in ci], [x_cols[i] for i in ki]


def remove_collinear_cols(
    df: DataFrame,
    x_cols: Sequence[str],
    tol: float = 1e-9,
    verbose: bool = False,
) -> tuple[DataFrame, list[str]]:
    """Distributed form of ``remove_collinear_cols``
    (``hdfe/multicollinearity.py:111-138``): prune a minimal collinear
    subset. Returns ``(df_without_them, kept_x_cols)``; non-X columns
    are preserved.
    """
    collinear, keep = find_collinear_cols(df, x_cols, tol=tol, verbose=verbose)
    if not collinear:
        return df, keep
    other = [c for c in df.columns if c not in set(collinear)]
    return df.select(*other), keep
