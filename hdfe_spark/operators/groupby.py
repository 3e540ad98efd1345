"""Grouped aggregate / transform kernel — the engine's workhorse.

Reference parity: ``hdfe/groupby.py:8-148`` (class ``Groupby``). The
reference pre-factorizes keys to dense ints and loops over per-group
ndarray views in Python, with two output modes:

- ``apply(f, x, broadcast=False)`` → one row per group (pandas
  ``groupby().agg()`` semantics), ``hdfe/groupby.py:123-148``;
- ``apply(f, x, broadcast=True)`` → one row per input row (pandas
  ``groupby().transform()`` semantics), ``hdfe/groupby.py:98-121``.

Spark-first re-expression (SURVEY.md §2.1):

- **Named/built-in functions stay JVM-side**: ``grouped_agg`` compiles
  to ``groupBy().agg(...)`` (hash aggregate with map-side partial
  aggregation — one shuffle of *partial* states, not rows);
  ``grouped_transform`` compiles to window functions over
  ``Window.partitionBy(keys)`` with an unbounded frame (one shuffle,
  no join back).
- **Arbitrary Python functions** go through Arrow-batched
  ``applyInPandas`` (GROUPED_MAP) — the direct analogue of the
  reference's "any callable over the group's ndarray" surface, but
  distributed: each group is shipped as an Arrow batch to a Python
  worker. This is the slow path by design; the named-function path
  should be preferred exactly like the reference's README steers users
  to cython-backed fns.

The reference's sorted-keys / contiguous-codes fast paths
(``hdfe/groupby.py:15-31``) need no analogue: Catalyst already skips
re-shuffles when child partitioning satisfies the requirement, and the
reusable pre-built group index (``Groupby`` instance reuse) maps to
``repartition(keys).persist()`` — exposed here as ``Groupby.persist()``.

Scale notes (100 TB): both paths are single-shuffle on the group keys.
Skewed keys are handled by AQE skew handling for joins and, for
pathological agg skew, by two-phase salted aggregation via
``grouped_agg(..., salt=N)``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Named aggregate functions compiled to JVM-side expressions.
# Values are fns: Column -> Column.
_NAMED_FNS: dict[str, Callable[[Column], Column]] = {
    "mean": F.avg,
    "avg": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "stddev": F.stddev_samp,
    "var": F.var_samp,
    "first": F.first,
    "last": F.last,
    "median": F.median,
}


def _as_list(x) -> list[str]:
    if isinstance(x, str):
        return [x]
    return list(x)


def _agg_cols(
    values: Sequence[str] | dict[str, str | Sequence[str]],
    default_fn: str = "mean",
) -> list[Column]:
    """Build aliased aggregate Columns from a values spec.

    ``values`` is either a list of column names (all aggregated with
    ``default_fn``) or a dict ``{col: fn}`` / ``{col: [fn, ...]}``.
    Output alias contract: ``{fn}_{col}`` — matching names must be used
    in oracle SQL.
    """
    out: list[Column] = []
    if isinstance(values, dict):
        items = [(c, _as_list(fns)) for c, fns in values.items()]
    else:
        items = [(c, [default_fn]) for c in _as_list(values)]
    for col, fns in items:
        for fn in fns:
            if fn not in _NAMED_FNS:
                raise KeyError(f"unknown aggregate fn {fn!r}; have {sorted(_NAMED_FNS)}")
            out.append(_NAMED_FNS[fn](F.col(col)).alias(f"{fn}_{col}"))
    return out


def grouped_agg(
    df: DataFrame,
    keys: str | Sequence[str],
    values: Sequence[str] | dict[str, str | Sequence[str]],
    default_fn: str = "mean",
    salt: int = 0,
) -> DataFrame:
    """One row per group (reference ``Groupby.apply(broadcast=False)``
    with a named fn — ``hdfe/groupby.py:123-148``).

    ``salt > 0`` enables two-phase aggregation for skewed keys: rows
    are first aggregated on ``(keys, salt_bucket)`` then re-aggregated
    on ``keys``. Only algebraic fns (sum/count/min/max/mean) are
    salt-safe; mean is rewritten through sum/count.
    """
    keys = _as_list(keys)
    if salt <= 0:
        return df.groupBy(*keys).agg(*_agg_cols(values, default_fn))

    # Two-phase salted aggregation: mean/std/median are not directly
    # mergeable, so restrict to algebraic fns and rewrite mean.
    if isinstance(values, dict):
        items = [(c, _as_list(fns)) for c, fns in values.items()]
    else:
        items = [(c, [default_fn]) for c in _as_list(values)]
    salted = df.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
    phase1: list[Column] = []
    phase2: list[Column] = []
    for col, fns in items:
        for fn in fns:
            if fn in ("sum", "min", "max"):
                phase1.append(_NAMED_FNS[fn](F.col(col)).alias(f"{fn}_{col}"))
                phase2.append(_NAMED_FNS[fn](F.col(f"{fn}_{col}")).alias(f"{fn}_{col}"))
            elif fn == "count":
                phase1.append(F.count(F.col(col)).alias(f"count_{col}"))
                phase2.append(F.sum(F.col(f"count_{col}")).alias(f"count_{col}"))
            elif fn in ("mean", "avg"):
                phase1.append(F.sum(F.col(col)).alias(f"__s_{col}"))
                phase1.append(F.count(F.col(col)).alias(f"__c_{col}"))
                phase2.append(
                    (F.sum(f"__s_{col}") / F.sum(f"__c_{col}")).alias(f"{fn}_{col}")
                )
            else:
                raise ValueError(f"fn {fn!r} is not salt-mergeable")
    part = salted.groupBy(*keys, "__salt").agg(*phase1)
    return part.groupBy(*keys).agg(*phase2)


# Aggregate fns whose value is a deterministic function of the group's
# multiset of values — safe to compute either as a window aggregate or
# as a groupBy aggregate joined back. first/last depend on physical row
# order and are excluded (the two plans would disagree).
_ORDER_FREE_FNS = frozenset(
    {"mean", "avg", "sum", "min", "max", "count", "std", "stddev", "var", "median"}
)


def _join_group_aggs(
    df: DataFrame, keys: list[str], aggs: dict[str, Column]
) -> DataFrame:
    """Append the group aggregates ``{name: expr}`` to every row of
    ``df``: ``groupBy(keys).agg(...)`` joined back on null-safe key
    equality. The group-side keys are renamed and dropped so the result
    keeps exactly ``df``'s key columns.

    Why (optimization r15, guide §2.4): a window plan shuffles and
    sorts EVERY ROW by the keys. This plan aggregates first (map-side
    partials, the exchange carries one row per group) and joins the
    group statistics back; with AQE the join side is the level-sized
    aggregate, so when groups ≪ rows (the demean/FE regime) it becomes
    a BroadcastHashJoin and the base table is never shuffled at all —
    at 100 TB that removes a full-data exchange + sort. When groups ≈
    rows AQE falls back to a sort-merge join, which costs about the
    same as the window path (one extra level-sized exchange).

    NULL keys: the window treats all-NULL keys as one group, so the
    join uses null-safe equality to match.
    """
    grp = df.groupBy(*keys).agg(*[e.alias(n) for n, e in aggs.items()])
    grp = grp.select(
        *[F.col(k).alias(f"__gk_{k}") for k in keys], *[F.col(n) for n in aggs]
    )
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__gk_{k}"))
        cond = c if cond is None else (cond & c)
    out = df.join(grp, on=cond, how="left")
    return out.drop(*[f"__gk_{k}" for k in keys])


def grouped_transform(
    df: DataFrame,
    keys: str | Sequence[str],
    values: Sequence[str] | dict[str, str | Sequence[str]],
    default_fn: str = "mean",
) -> DataFrame:
    """One row per input row, with per-group statistics appended
    (reference ``Groupby.apply(broadcast=True)`` —
    ``hdfe/groupby.py:98-121``; also the inline pandas
    ``groupby().transform(np.mean)`` at ``hdfe/hdfe.py:84-87``).

    Plan (optimization r15): for order-free aggregate fns this compiles
    to ``groupBy().agg()`` + a null-safe join back — the base table is
    not shuffled when AQE broadcasts the level-sized aggregate (see
    :func:`_join_group_aggs`). Order-dependent fns (first/last) and
    output-name collisions keep the window-aggregate plan (a single
    full-data shuffle on ``keys``). Appended column names follow the
    same ``{fn}_{col}`` contract as :func:`grouped_agg`.
    """
    keys = _as_list(keys)
    if isinstance(values, dict):
        items = [(c, _as_list(fns)) for c, fns in values.items()]
    else:
        items = [(c, [default_fn]) for c in _as_list(values)]
    for col, fns in items:
        for fn in fns:
            if fn not in _NAMED_FNS:
                raise KeyError(f"unknown aggregate fn {fn!r}")
    # Output-name collisions keep the window path (review r16): the
    # join plan APPENDS `{fn}_{col}`, so a pre-existing column of that
    # name would become duplicate/ambiguous downstream, whereas
    # withColumn (the window path) replaces it — the pre-r15 contract.
    existing = set(df.columns)
    collides = any(
        f"{fn}_{col}" in existing for col, fns in items for fn in fns
    )
    if not collides and all(
        fn in _ORDER_FREE_FNS for _, fns in items for fn in fns
    ):
        return _join_group_aggs(
            df,
            keys,
            {
                f"{fn}_{col}": _NAMED_FNS[fn](F.col(col))
                for col, fns in items
                for fn in fns
            },
        )
    w = Window.partitionBy(*keys)
    out = df
    for col, fns in items:
        for fn in fns:
            out = out.withColumn(f"{fn}_{col}", _NAMED_FNS[fn](F.col(col)).over(w))
    return out


def demean(
    df: DataFrame,
    keys: str | Sequence[str],
    cols: str | Sequence[str],
    suffix: str = "_dm",
) -> DataFrame:
    """Within-group demeaning: ``x - avg(x) over (partition by keys)``.

    This is the Frisch–Waugh–Lovell building block used by the within
    estimator (``hdfe/hdfe.py:84-87``) and by the alternating-projection
    absorption of multiple fixed effects (SURVEY.md §7.2 step 7).

    Plan (optimization r15, guide §2.4): group means via
    ``groupBy().agg()`` (map-side partials, level-sized exchange)
    joined back null-safely — AQE broadcasts the aggregate when groups
    ≪ rows, so the base table is never shuffled.
    """
    keys = _as_list(keys)
    cols = _as_list(cols)
    out = _join_group_aggs(df, keys, {f"__gm_{c}": F.avg(F.col(c)) for c in cols})
    return out.select(
        *df.columns,
        *[(F.col(c) - F.col(f"__gm_{c}")).alias(f"{c}{suffix}") for c in cols],
    )


def topk_by(
    df: DataFrame,
    key_cols: str | Sequence[str],
    order_cols: str | Sequence[str],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows per group under ``order_cols`` (descending, with
    the caller supplying a unique tiebreak — the `latest_per_key`
    contract, of which this is the k > 1 generalization): "top 5
    documents per source by quality", "each user's 3 biggest
    events". Appends 1-based ``rank_col``.

    Scale: ONE hash-partitioned window keyed by ``key_cols`` —
    parallel across groups, never a global sort; per-group work is
    bounded by group cardinality. (For the GLOBAL top-k use an
    orderBy().limit(k) — TakeOrderedAndProject heaps — instead.)"""
    if k < 1:
        raise ValueError("topk_by: k must be >= 1")
    keys = _as_list(key_cols)
    order = _as_list(order_cols)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order]
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


class Groupby:
    """Reusable grouped-execution handle (reference ``Groupby`` class,
    ``hdfe/groupby.py:8-148``).

    The reference factorizes keys once and reuses the group index
    across many ``apply`` calls (``hdfe/hdfe.py:262-272``). The Spark
    analogue of that amortization is a one-time hash repartition on the
    keys, persisted, so subsequent grouped ops (agg, transform,
    applyInPandas) reuse the co-location without re-shuffling.
    """

    def __init__(self, df: DataFrame, keys: str | Sequence[str]):
        self.keys = _as_list(keys)
        self.df = df
        self._persisted = False
        self._apply_width: int | None = None

    def persist(self) -> "Groupby":
        """Pre-shuffle on the keys and cache — amortizes the shuffle
        across repeated applies, like the reference's prebuilt index."""
        self.df = self.df.repartition(*self.keys).persist()
        self._persisted = True
        return self

    def unpersist(self) -> "Groupby":
        if self._persisted:
            self.df.unpersist()
            self._persisted = False
        return self

    # -- named-function paths (JVM-side, preferred) ------------------

    def agg(self, values, default_fn: str = "mean") -> DataFrame:
        return grouped_agg(self.df, self.keys, values, default_fn)

    def transform(self, values, default_fn: str = "mean") -> DataFrame:
        return grouped_transform(self.df, self.keys, values, default_fn)

    # -- arbitrary-function path (Arrow / pandas, the UDF surface) ---

    def apply(
        self,
        f: Callable,
        schema,
        broadcast: bool = False,
        order_by: str | Sequence[str] | None = None,
    ) -> DataFrame:
        """Arbitrary per-group pandas function (reference
        ``Groupby.apply`` with a user callable, ``hdfe/groupby.py:56-148``).

        ``f`` takes a ``pandas.DataFrame`` (one group) and returns a
        ``pandas.DataFrame``. ``broadcast=False`` → agg semantics (f
        should return few rows, typically 1); ``broadcast=True`` → f's
        output must have one row per input row (transform semantics).
        The shape contract is enforced inside the worker for
        ``broadcast=True``, mirroring the reference's assertion at
        ``hdfe/groupby.py:104-118``.

        ``order_by``: optional explicit within-group ordering applied
        to each pandas group before calling ``f``. The reference relies
        on physical row order (SURVEY.md §7.4); Spark groups arrive
        unordered, so panel-style callables must pass an order column.
        """
        order_cols = _as_list(order_by) if order_by else None
        want_broadcast = broadcast

        def run(pdf):
            if order_cols:
                pdf = pdf.sort_values(order_cols, kind="stable")
            out = f(pdf)
            if want_broadcast and len(out) != len(pdf):
                raise ValueError(
                    f"broadcast=True requires len(out)=={len(pdf)}, got {len(out)}"
                )
            return out

        base = self.df
        if not self._persisted:
            # Width the Python stage like every other Arrow stage in
            # the engine (optimization r15, guide §4): applyInPandas
            # inherits spark.sql.shuffle.partitions for its exchange,
            # which on local[32] spawns 32 Python workers for one
            # stage; a keyed repartition to py_stage_partitions keeps
            # the same co-location (the groupBy reuses the exchange —
            # any hash partitioning on the keys satisfies it) with
            # ~cores/4 workers and larger Arrow batches. Persisted
            # handles are already key-partitioned — leave them be.
            # r16: the width is data-aware — it grows with the input
            # size estimate past the cores/4 floor (up to 2×cores) so
            # a CPU-heavy Python stage over a large input is not
            # capped at 25% of cluster parallelism. The size estimate
            # costs a driver-side Catalyst analyze+optimize of the
            # handle's plan, so it is computed once per Groupby (the
            # handle's whole point is reuse across applies — review
            # r16).
            from hdfe_spark.session import py_stage_partitions

            if self._apply_width is None:
                self._apply_width = py_stage_partitions(
                    base.sparkSession, base
                )
            base = base.repartition(self._apply_width, *self.keys)
        return base.groupBy(*self.keys).applyInPandas(run, schema=schema)
