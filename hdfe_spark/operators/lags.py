"""Panel lag/lead expansion.

Reference parity: ``make_one_lag`` (``hdfe/hdfe.py:184-250``) and
``make_lags`` (``hdfe/hdfe.py:253-302``). Semantics preserved:

- lag sign convention: positive ``lag`` looks *back* ``lag`` rows
  within the group; negative looks forward (lead).
- generated column names: ``{outcome}_lag_{lag}`` and, when
  ``fill_zeros=True``, a companion missing-indicator
  ``{outcome}_lag_{lag}_mi`` (``hdfe/hdfe.py:273-275,294``).
- ``fill_zeros=False`` → missing positions are NULL (the reference
  uses NaN); ``fill_zeros=True`` → missing → 0.0 and ``_mi`` → 1.
- ``|lag| > group size`` degenerates to an all-missing column
  (``hdfe/hdfe.py:193-202``) — free under window semantics.

Semantic strengthening (SURVEY.md §7.4): the reference shifts rows in
*physical* order within each group; Spark DataFrames are unordered, so
the engine requires an explicit ``order_by`` column. This is
deliberate and documented — positional semantics do not survive a
distributed shuffle.

Spark plan: ALL lags for ALL outcomes compile into one ``select`` over
a single ``Window.partitionBy(entity).orderBy(time)`` — one shuffle +
one per-partition sort total, then ``WindowExec`` computes every
column in a single pass. The reference needs one full pass per lag
(``hdfe/hdfe.py:265-272``); here the multi-lag fusion is free.

Scale notes: window over entity keys shuffles once on entity; with
millions of entities partitions stay balanced. A single giant entity
(pathological skew) would serialize in one task — for that shape,
range-partition by (entity, time-bucket) upstream and compute
boundary lags via a small self-join; not needed for any reference
workload.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _as_list(x) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _lag_cols(
    outcome: str, lag: int, w: WindowSpec, name: str, fill_zeros: bool
) -> dict[str, Column]:
    """``{name: lag expr}`` — with ``fill_zeros``, missing → 0.0 plus the
    ``{name}_mi`` missing indicator."""
    shifted = F.lag(F.col(outcome), lag).over(w)  # F.lag(n<0) == lead
    if not fill_zeros:
        return {name: shifted}
    return {
        name: F.coalesce(shifted, F.lit(0.0)),
        f"{name}_mi": F.isnull(shifted).cast("int"),
    }


def make_one_lag(
    df: DataFrame,
    outcome: str,
    lag: int,
    groupby: str | Sequence[str],
    order_by: str | Sequence[str],
    fill_zeros: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Add one lag/lead column (reference ``make_one_lag``,
    ``hdfe/hdfe.py:184-250``).

    Positive ``lag`` = value ``lag`` rows back; negative = lead.
    """
    name = out_col or f"{outcome}_lag_{lag}"
    w = Window.partitionBy(*_as_list(groupby)).orderBy(*_as_list(order_by))
    return df.withColumns(_lag_cols(outcome, lag, w, name, fill_zeros))


def make_lags(
    df: DataFrame,
    n_lags_back: int,
    n_lags_forward: int,
    outcomes: str | Sequence[str],
    groupby: str | Sequence[str],
    order_by: str | Sequence[str],
    fill_zeros: bool = False,
) -> tuple[DataFrame, dict[str, list[str]]]:
    """Add all lags/leads for each outcome (reference ``make_lags``,
    ``hdfe/hdfe.py:253-302``).

    Lags generated: ``{-n_lags_forward .. -1} ∪ {1 .. n_lags_back}``
    (``hdfe/hdfe.py:261``). Returns ``(new_df, lag_vars)`` where
    ``lag_vars[outcome]`` lists the generated column names in lag
    order, matching the reference's return contract
    (``hdfe/hdfe.py:300-302``) — but immutably (the reference mutates
    its input in place).

    All columns are produced by ONE window projection (single shuffle).
    """
    outcomes = _as_list(outcomes)
    lags = [-l for l in range(1, n_lags_forward + 1)][::-1] + list(
        range(1, n_lags_back + 1)
    )
    w = Window.partitionBy(*_as_list(groupby)).orderBy(*_as_list(order_by))

    exprs: list[Column] = []
    lag_vars: dict[str, list[str]] = {}
    for out in outcomes:
        names: list[str] = []
        for lag in lags:
            cols = _lag_cols(out, lag, w, f"{out}_lag_{lag}", fill_zeros)
            exprs += [e.alias(n) for n, e in cols.items()]
            names += list(cols)
        lag_vars[out] = names
    return df.select("*", *exprs), lag_vars
