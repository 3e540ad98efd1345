"""Independent numpy/pandas references for the estimator tests.

Closed-form OLS, the within (demeaned) and LSDV fits, and the
homoskedastic, HC1 and one-/two-way cluster sandwiches, written
straight from the textbook formulas on a pandas frame. Nothing here
calls ``hdfe_spark``, so a test that compares ``estimate`` against
these functions cannot pass by agreeing with itself.
"""

import numpy as np
import pandas as pd


def ols(X, y):
    """``(b, e)`` for ``y = X b + e`` (no intercept is added)."""
    b = np.linalg.solve(X.T @ X, X.T @ y)
    return b, y - X @ b


def homosked_V(X, e, n_absorbed=0):
    """``(X'X)^-1 * e'e / (n - k - n_absorbed)``."""
    n, k = X.shape
    return np.linalg.inv(X.T @ X) * float(e @ e) / (n - k - n_absorbed)


def hc1_V(X, e):
    """White sandwich with the HC1 ``n / (n - k)`` correction."""
    n, k = X.shape
    G_inv = np.linalg.inv(X.T @ X)
    meat = (X * (e * e)[:, None]).T @ X
    return G_inv @ meat @ G_inv * n / (n - k)


def cluster_meat(e, X, keys):
    """``Σ_g u_g u_g'`` with ``u_g = Σ_{i∈g} e_i x_i``."""
    u = pd.DataFrame(X * e[:, None]).groupby(np.asarray(keys)).sum().to_numpy()
    return u.T @ u


def cluster_V(X, e, pdf, cluster):
    """One-way, or Cameron-Gelbach-Miller two-way
    (``M_a + M_b - M_ab``), cluster sandwich without a small-sample
    factor."""
    G_inv = np.linalg.inv(X.T @ X)
    if len(cluster) == 1:
        M = cluster_meat(e, X, pdf[cluster[0]])
    else:
        a, b = cluster
        pair = pdf[a].astype(str) + "|" + pdf[b].astype(str)
        M = (
            cluster_meat(e, X, pdf[a])
            + cluster_meat(e, X, pdf[b])
            - cluster_meat(e, X, pair)
        )
    return G_inv @ M @ G_inv


def drop_last_dummies(pdf, col):
    """One-hot columns ``{col}_is_{v}`` for every level of ``col`` but
    the largest."""
    levels = sorted(pdf[col].unique())[:-1]
    return pd.DataFrame(
        {f"{col}_is_{v}": (pdf[col] == v).astype(float) for v in levels},
        index=pdf.index,
    )


def demeaned(pdf, fe, cols):
    """``c - mean(c | fe)`` per column; NULL/NaN values are skipped in
    the group mean and stay NaN (a NULL FE level is its own group)."""
    g = pdf.groupby(fe, dropna=False)
    return pd.DataFrame(
        {c: pdf[c] - g[c].transform("mean") for c in cols}, index=pdf.index
    )


def within_fit(pdf, fe, x, y):
    """Within estimator: OLS of demeaned ``y`` on demeaned ``x``.
    Returns ``(b, e, Xd)`` with ``e`` the within residual."""
    d = demeaned(pdf, fe, list(x) + [y])
    Xd = d[list(x)].to_numpy()
    b, e = ols(Xd, d[y].to_numpy())
    return b, e, Xd


def lsdv_V(pdf, fe, x, y):
    """Homoskedastic covariance of the full LSDV fit ``y ~ D(fe) + x``
    (every level's dummy, no intercept), rows/cols ordered as the
    sorted levels then ``x``."""
    levels = sorted(pdf[fe].unique())
    D = np.column_stack([(pdf[fe] == v).to_numpy(float) for v in levels])
    Z = np.column_stack([D, pdf[list(x)].to_numpy()])
    _, e = ols(Z, pdf[y].to_numpy())
    return homosked_V(Z, e)
