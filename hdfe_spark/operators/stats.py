"""Hypothesis-testing and time-series statistics: Welch's two-sample
t-test, chi-squared independence, and per-key exponential moving
averages.

Beyond-reference surface: the reference stops at point estimates and
(cluster-robust) standard errors (`hdfe/hdfe.py:150-213`); a data
pipeline that A/B-tests curation policies or monitors engagement
streams also needs the classical two-sample machinery and smoothed
trend lines — expressed, at 100 TB, as single-scan aggregations and
one-window passes, never a driver-side loop.

Engine-portable exactness (the repo's Gram pattern,
`operators/collinearity.py` / `validate.py::mahalanobis_outliers`):

- ``welch_ttest`` reduces each population to exact fixed-point
  moments (count / sum / sum-of-squares of ``round(value*scale)``
  integers summed as DECIMAL(38,0) — order-independent, unlike
  float sums), then evaluates the t statistic and the
  Welch–Satterthwaite dof with one deterministic IEEE expression
  tree a SQL oracle can mirror literally. ONE aggregation pass per
  population; the result is k scalars regardless of row count.
- ``chi2_independence`` builds the contingency table with one
  groupBy, derives margins with two tiny re-aggregations joined
  back (broadcast — the table has |A|x|B| cells, not |rows|), and
  emits PER-CELL expected counts and chi-squared terms. The global
  statistic is a sum the CALLER takes; keeping cells separate means
  no output value depends on a float summation order.
- ``ewma`` evaluates the recursive smoother y_0 = x_0, y_t =
  a*x_t + (1-a)*y_{t-1} (pandas ``adjust=False``) as a LEFT FOLD
  over the key's order-sorted value array (one groupBy + one
  ``F.aggregate``). A fold is sequential BY DEFINITION, so DuckDB's
  ``list_reduce`` replays the identical IEEE operation sequence —
  unlike a windowed float SUM, which DuckDB may evaluate in segment-
  tree order and Spark sequentially, diverging in the last ulp. No
  closed-form (1-a)^{-t} rescaling, so no overflow cap either.
"""

from __future__ import annotations

import decimal as _decimal
import math
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfe_spark.operators._guards import (
    no_inplace_overwrite,
    no_output_collision,
    quote_ident,
)


def _dup_order_guard(op_name: str, key_col: str, result):
    """In-plan loud failure when a key's order column is not a total
    order (count != distinct-count, precomputed as columns ``n`` vs
    ``_n_ord``): the fold/lag order would be engine-dependent, so
    the operator raises instead of silently diverging from a SQL
    oracle. Shared by every ordered-fold operator (`ewma`, `cusum`)
    and the lag pairing (`autocorr`)."""
    return F.when(
        F.col("_n_ord") != F.col("n"),
        F.raise_error(
            F.concat(
                F.lit(f"{op_name}: duplicate order values within key "),
                F.col(key_col).cast("string"),
                F.lit(" — the fold order would be engine-dependent"),
            )
        ).cast("double"),
    ).otherwise(result)


def _dec38_num(op_name: str, n, ss, s1, s2=None):
    """Exact decimal variance/covariance numerator ``n·ss − s1·s2``
    (s2 defaults to s1) as a double, with the DECIMAL(38,0) overflow
    guard FUSED at the definition so every downstream consumer (var,
    t, dof, theta, rho², even `when` conditions) inherits it: without
    the guard, Spark's default-ANSI decimal multiply raises a bare
    NUMERIC_VALUE_OUT_OF_RANGE mid-plan (and silently NULLs under
    non-ANSI — a poisoned panel that reads as "thin arm"), while a
    SQL oracle's HUGEINT errors differently (review r13). The CASE
    keeps the exact multiply in the untaken branch, so the guard
    fires FIRST with a named, actionable error. Conservative bounds
    (9e37 for |ss|·n, 3e18 for |s|) leave a wide margin under the
    10³⁸ ceiling; the fix is a smaller ``scale`` (each 10× off
    ``scale`` buys 10²× of headroom in ss). Shared by the
    exact-moment family (`welch_by` — and through it `mde_by` —
    `cuped_by`, `smd_by`)."""
    if s2 is None:
        s2 = s1
    nD = n.cast("decimal(38,0)")
    bad = (F.abs(ss.cast("double")) * n.cast("double") > F.lit(9.0e37)) | (
        F.abs(s1.cast("double")) > F.lit(3.0e18)
    ) | (F.abs(s2.cast("double")) > F.lit(3.0e18))
    return F.when(
        bad,
        F.raise_error(
            F.lit(
                f"{op_name}: exact-decimal moment numerator n*ss - s*s"
                " would overflow DECIMAL(38,0) — lower `scale` for this"
                " value range / group size"
            )
        ).cast("double"),
    ).otherwise((nD * ss - s1 * s2).cast("double"))


# Ceiling on one key's materialized series (elements). The fold
# family collects each key's (order, value) structs into ONE task's
# memory — ~32 bytes/element in the aggregation buffer, so the 8M
# default is ~256 MB for the largest key: survivable on a fat local
# driver, already past what a 4-8 GiB cluster executor should carry.
# The guard converts "silently huge key" into a loud in-plan error
# naming the escape hatch: the BLOCKED variants below
# (`ewma_blocked`/`holt_blocked`/`cusum_blocked` — segmented
# affine-map composition, NOT the default path because block math
# reorders the IEEE operation sequence and would break the
# bit-exact fold oracles). A key so large the collect itself OOMs
# dies earlier
# with Spark's own error; this guard bounds the CONTRACT for
# everything that fits.
MAX_SERIES_LEN = 8_000_000


def _ordered_series(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    op_name: str = "series_fold",
    max_n: int = MAX_SERIES_LEN,
) -> DataFrame:
    """Shared per-key ordered-series scaffold for the fold family
    (`ewma`, `cusum`, `holt`, `holt_winters`): NULL-filtered
    (order, value-as-double) structs collected and array_sorted into
    ``_xs`` per key, plus the ``n`` / ``_n_ord`` columns
    `_dup_order_guard` consumes. ONE expression spelling so the
    total-order contract (and any future fix to it) cannot drift
    between the four operators.

    ``n`` carries the max-series-length guard in-plan (every
    consumer selects ``n`` into its output, so Catalyst cannot prune
    it): a key longer than ``max_n`` raises loudly instead of
    quietly materializing an unbounded array per task (VERDICT r9
    item 5 — the documented-guard alternative to segmented folds)."""
    xs = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("o"),
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    agg = (
        df.filter(
            F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(key_col)
        .agg(
            xs.alias("_xs"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(order_col)).alias("_n_ord"),
        )
    )
    n_guarded = F.when(
        F.col("n") > F.lit(int(max_n)),
        F.raise_error(
            F.concat(
                F.lit(f"{op_name}: series length "),
                F.col("n").cast("string"),
                F.lit(" for key "),
                F.col(key_col).cast("string"),
                F.lit(
                    f" exceeds max_series_len={int(max_n)} — the whole"
                    " series materializes in one task; use the blocked"
                    " variant (ewma_blocked/holt_blocked/"
                    "cusum_blocked), pre-aggregate the series, or"
                    " raise max_series_len knowingly"
                ),
            )
        ).cast("long"),
    ).otherwise(F.col("n"))
    return agg.select(
        key_col, "_xs", n_guarded.alias("n"), "_n_ord"
    )


# ---------------------------------------------------------------
# Blocked (segmented) series folds — the 100x-scale path for the
# fold family. The sequential operators above materialize each
# key's whole series in ONE task (bounded by the loud
# `max_series_len` guard). The smoothing recursions, however,
# compose ASSOCIATIVELY as maps on the state:
#
#   ewma   y -> A*y + B            (scalar affine; per step
#                                   A=1-alpha, B=alpha*x)
#   holt   (l,b) -> M*(l,b) + c    (2x2 affine)
#   cusum  s -> max(h, s + a)      (max-plus affine; per step
#                                   h=0, a=x-target-slack)
#
# so a key's series can be split into ordered blocks of at most
# ``block_len`` elements, each block partial-folded to its
# composite map IN PARALLEL, and the per-key result recovered by
# composing at most ``max_blocks`` tiny map structs — capacity
# block_len * max_blocks rows per key (2^18 x 10k = 2.6G default)
# with no task ever holding more than block_len elements.
#
# MEMORY SIZING: the per-block collect_list aggregation buffer is
# BOXED (~100 B/element measured), so one in-flight task costs
# ~block_len * 100 B on top of the pinned base — the 2^18 default
# keeps 32 concurrent tasks near 1 GB total, safe on a 4-8 GiB
# executor; block_len = 1M needs a ~32 GiB heap at 32-way
# concurrency (the 100M stress OOMed a 16 GiB JVM at 1M blocks and
# passed at the default).
#
# Numeric contract: block 0 starts from the operator's exact init
# (y=x_1 / holt's (l_2,b_2) / s=0) and replays the sequential fold
# verbatim, so ANY key with n <= block_len is BIT-IDENTICAL to the
# sequential operator. Beyond one block, the composition
# re-associates the IEEE operation sequence (the pairwise-sum
# trade: same recursion, different rounding path, error O(n*eps));
# when every step is exact in binary64 — integer cusum deltas,
# dyadic ewma/holt coefficients on exact series — the blocked and
# sequential results are bit-equal at ANY length, which is what the
# boundary stress pins. The sequential operators stay the oracle
# path; these are the scale escape hatch their guard names.
#
# holt_winters has NO blocked variant: its state is (l, b,
# s[1..period]) — an affine map on R^(period+2) whose block
# composition is a dense (period+2)^2 matrix product, O(period^2)
# PER ELEMENT in the partial fold. That is a worse plan than the
# guard for every realistic period; a hot key there should be
# pre-aggregated (e.g. resample to the season grid) instead.
# ---------------------------------------------------------------


def _max_cells_guard(cells, op_name: str, max_cells, wrap_col: str):
    """Route check for the per-group CELL-WINDOW family (`auc_by`,
    `gini_by`, `spearman_by`, `ks_by` — VERDICT r11 item 8): their
    group-partitioned window runs over the group's DISTINCT-value
    cells, so a hot group is fine at 99% row skew (the cell table is
    compressed — measured 3.6x worst, SCALE.md r11b) but a group
    whose DISTINCT-value count exceeds the task envelope would
    silently single-task a row-scale segment again. This guard
    counts cells per group with a map-side-combined aggregation
    (never a window; the cell subtree's exchange is reused by
    Catalyst), joins the group-cardinality counts back, and raises
    IN-PLAN through ``wrap_col`` BEFORE the offending group's window
    segment materializes — route that group through the global
    operator's distributed prefix-sum path (cross-checked EXACT in
    the r11 skew stress) or raise the cap knowingly.
    ``max_cells <= 0`` disables the check."""
    if max_cells is None or int(max_cells) <= 0:
        return cells
    dtype = cells.schema[wrap_col].dataType.simpleString()
    counts = cells.groupBy(F.col("__g").alias("__g9")).agg(
        F.count(F.lit(1)).alias("__ncells")
    )
    wrapped = F.when(
        F.col("__ncells") > F.lit(int(max_cells)),
        F.raise_error(
            F.concat(
                F.lit(f"{op_name}: group "),
                F.coalesce(F.col("__g").cast("string"), F.lit("NULL")),
                F.lit(" has "),
                F.col("__ncells").cast("string"),
                F.lit(
                    " distinct-value cells >"
                    f" max_cells_per_group={int(max_cells)} — its"
                    " window segment would single-task at row scale;"
                    " route it through the global operator's"
                    " distributed prefix-sum path or raise the cap"
                    " knowingly"
                ),
            )
        ).cast(dtype),
    ).otherwise(F.col(wrap_col))
    out_cols = [
        wrapped.alias(wrap_col) if c == wrap_col else F.col(c)
        for c in cells.columns
    ]
    return cells.join(
        counts, F.col("__g").eqNullSafe(F.col("__g9"))
    ).select(*out_cols)


def _blocked_series(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    op_name: str,
    block_len: int,
    max_blocks: int,
    with_lens: bool = False,
) -> DataFrame:
    """Shared scaffold for the blocked fold family: distributed
    within-key positions (``rank.global_rank`` — range-partition +
    offset reconstruction, NEVER a per-key single-task window), then
    one row per (key, block) with the block's order-sorted value
    array ``_bs`` (<= block_len elements), its block id ``_blk``,
    and the per-key ``n`` / ``_n_ord`` columns the duplicate-order
    and capacity guards consume.

    ``with_lens=True`` returns ``(blocks, lens)`` where ``lens`` is
    the sorted set of block LENGTHS that occur, derived in Python
    from the distinct per-key counts (one extra key-sized
    aggregation job over the pinned rank output — never a scan of
    the block table itself, which would recompute the heavy fold
    input). Consumers whose per-block linear map depends only on
    the block length (`holt_winters_blocked`) build their
    driver-side map table from exactly these lens."""
    from hdfe_spark.operators.rank import global_rank_with_total

    if block_len < 2:
        raise ValueError(f"{op_name}: block_len must be >= 2")
    if max_blocks < 1:
        raise ValueError(f"{op_name}: max_blocks must be >= 1")
    base = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__o"),
        F.col(value_col).cast("double").alias("__v"),
    )
    # (key, order) is a total order iff order is unique per key —
    # exactly the family's duplicate-order contract, checked below
    ranked, n_total = global_rank_with_total(
        base, ["__k", "__o"], rank_col="__gpos"
    )
    per_key = ranked.groupBy("__k").agg(
        F.min("__gpos").alias("__p0"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("__o")).alias("_n_ord"),
    )
    cap = int(block_len) * int(max_blocks)
    n_guarded = F.when(
        F.col("n") > F.lit(cap),
        F.raise_error(
            F.concat(
                F.lit(f"{op_name}: series length "),
                F.col("n").cast("string"),
                F.lit(" for key "),
                F.col("__k").cast("string"),
                F.lit(
                    f" exceeds block_len*max_blocks={cap} — raise"
                    " block_len or max_blocks knowingly"
                ),
            )
        ).cast("long"),
    ).otherwise(F.col("n"))
    per_key = per_key.select(
        F.col("__k").alias("__k2"),
        "__p0",
        n_guarded.alias("n"),
        "_n_ord",
    )
    kpos = F.col("__gpos") - F.col("__p0")  # 0-based within-key pos
    assigned = (
        ranked.join(
            per_key, F.col("__k").eqNullSafe(F.col("__k2"))
        )
        .drop("__k2")
        .select(
            "__k",
            "n",
            "_n_ord",
            (kpos / F.lit(int(block_len)))
            .cast("long")
            .alias("__blk"),
            (kpos % F.lit(int(block_len))).alias("__bpos"),
            "__v",
        )
    )
    # SIZE THE BLOCK SHUFFLE TO THE BLOCK COUNT: a hash aggregate
    # holds EVERY group buffer of its partition simultaneously, so
    # with the session's default partition count the concurrent
    # reduce tasks collectively buffer the whole table in boxed form
    # (~100 B/element — measured OOM on a 16 GiB heap at 100M rows).
    # Repartitioning by (key, block) into ~one-block partitions
    # bounds each task at ~block_len boxed elements; the groupBy
    # below sees its clustering satisfied, so this REPLACES (not
    # adds to) the aggregation exchange.
    #
    # MATERIALIZATION FENCE — deliberately kept even though the
    # rank phase's offset counts already sum to n_total (advice r12
    # tried removing it): the cheap count pass over the checkpointed
    # rank output settles the storage pool BEFORE the fold stage
    # needs its execution memory. Measured A/B at 100M rows/one key
    # on a 16 GiB heap (SCALE.md r12): with the fence ewma_blocked
    # passes in ~133 s; without it the fold stage OOMs — identical
    # plans otherwise (n_total value verified equal). The fence's
    # count is reconciled against the offset total as a free
    # integrity check.
    from hdfe_spark.operators.rank import shuffle_partitions

    fence_total = ranked.count()
    if fence_total != n_total:
        raise RuntimeError(
            f"{op_name}: rank offset total {n_total} !="
            f" materialized count {fence_total} — the pinned"
            " checkpoint is inconsistent"
        )

    default_parts = shuffle_partitions(df.sparkSession)
    n_parts = max(
        default_parts,
        min(-(-n_total // int(block_len)), 200_000),
    )
    blocks = (
        assigned.repartition(n_parts, "__k", "__blk")
        .groupBy("__k", "__blk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__bpos"), F.col("__v")))
            ).alias("_bs"),
            F.first("n").alias("n"),
            F.first("_n_ord").alias("_n_ord"),
        )
    )
    if not with_lens:
        return blocks
    bl = int(block_len)
    lens: "set[int]" = set()
    for r in ranked.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n")
    ).select("n").distinct().collect():
        n = int(r["n"])
        nb = -(-n // bl)
        lens.add(min(n, bl))             # block 0
        if nb > 1:
            lens.add(bl)                 # full middle blocks
            lens.add(n - (nb - 1) * bl)  # the short last block
    return blocks, sorted(lens)


def _blocked_compose(
    blocks: DataFrame,
    key_col: str,
    map_expr,
    compose,
) -> DataFrame:
    """Outer stage of the blocked fold: per-key collect of the tiny
    (block id, map struct) rows (<= max_blocks, guarded upstream),
    sorted by block id and left-folded with ``compose``. Applies the
    duplicate-order guard on the way out. ``map_expr`` is the
    per-block map struct expression (evaluated over ``_bs``);
    ``compose`` is a lambda (acc_map, next_map) -> composed map."""
    summarized = blocks.select(
        "__k",
        "n",
        "_n_ord",
        F.struct(F.col("__blk").alias("i"), map_expr.alias("m")).alias(
            "_bm"
        ),
    )
    per_key = summarized.groupBy("__k").agg(
        F.array_sort(F.collect_list("_bm")).alias("_ms"),
        F.first("n").alias("n"),
        F.first("_n_ord").alias("_n_ord"),
    )
    maps = F.col("_ms").getField("m")
    composed = F.aggregate(
        F.slice(maps, 2, F.greatest(F.size(maps) - 1, F.lit(0))),
        F.element_at(maps, 1),
        compose,
    )
    staged = per_key.select(
        F.col("__k").alias(key_col), "n", "_n_ord",
        composed.alias("_f"),
    )
    return staged


def ewma_blocked(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    block_len: int = 262_144,
    max_blocks: int = 10_000,
) -> DataFrame:
    """`ewma` evaluated as a BLOCKED fold — identical recursion,
    distributed over per-key blocks so no task holds more than
    ``block_len`` elements (see the blocked-family banner above for
    the capacity/bit-equality contract). Block 0 replays ewma's
    exact init-and-fold; blocks beyond it partial-fold to the
    scalar affine map (A, B) with per step A *= (1-alpha),
    B = alpha*x + (1-alpha)*B, composed per key as
    (A2*A1, A2*B1 + B2). Returns one row per key: (key, n, ewma)."""
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    no_output_collision(
        "ewma_blocked", "out_col", out_col, ("n",)
    )
    no_output_collision(
        "ewma_blocked", "key_col", key_col, ("n", out_col)
    )
    A, nA = F.lit(float(alpha)), F.lit(1.0 - float(alpha))
    blocks = _blocked_series(
        df, key_col, order_col, value_col, "ewma_blocked",
        block_len, max_blocks,
    )
    vals = F.col("_bs").getField("__v")
    # block 0: acc = (A=0, B=y) seeded y = x_1 — the ewma fold
    # verbatim; later blocks: acc = (A=1, B=0) over ALL elements
    is0 = F.col("__blk") == F.lit(0)
    init = F.when(
        is0,
        F.struct(
            F.lit(0.0).alias("a"), F.element_at(vals, 1).alias("b")
        ),
    ).otherwise(
        F.struct(F.lit(1.0).alias("a"), F.lit(0.0).alias("b"))
    )
    body = F.when(
        is0, F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0)))
    ).otherwise(vals)
    map_expr = F.aggregate(
        body,
        init,
        lambda acc, x: F.struct(
            (nA * acc["a"]).alias("a"),
            (A * x + nA * acc["b"]).alias("b"),
        ),
    )
    staged = _blocked_compose(
        blocks,
        key_col,
        map_expr,
        lambda acc, m: F.struct(
            (m["a"] * acc["a"]).alias("a"),
            (m["a"] * acc["b"] + m["b"]).alias("b"),
        ),
    )
    out = _dup_order_guard(
        "ewma_blocked", key_col, F.col("_f")["b"]
    )
    return staged.select(key_col, "n", out.alias(out_col))


def _holt_linear_maps(
    alpha: float, gamma: float, lens: "Sequence[int]"
) -> "list[tuple[int, float, float, float, float]]":
    """Driver-side replay of the Holt step's LINEAR part: the block
    map matrix M(len) = T^len, iterated left-to-right with the
    IDENTICAL IEEE expression shapes the in-plan fold used to spell
    per element (r1j = (1-a)*(m1j+m2j); m2j' = g*(r1j-m1j) +
    (1-g)*m2j) — CPython and the JVM both evaluate correctly-rounded
    binary64 ops, so each row is BIT-IDENTICAL to the retired
    per-element struct fold (pinned in tests/test_r12_ops.py via an
    inline replay of the old 6-field fold). M never reads the data,
    only the step count, which is what makes the offset-only data
    fold possible. Snapshotted at exactly the block lengths in
    ``lens`` (the occurring lengths from
    ``_blocked_series(with_lens=True)``) so the map table stays a
    handful of rows — a full 1..block_len table rode every task
    binary as a multi-MB LocalRelation (measured in the r12 100M
    stress)."""
    nA = 1.0 - float(alpha)
    G = float(gamma)
    nG = 1.0 - float(gamma)
    need = sorted({int(x) for x in lens})
    m11, m12, m21, m22 = 1.0, 0.0, 0.0, 1.0
    rows = []
    if not need:
        return rows
    j = 0
    for ln in range(1, need[-1] + 1):
        r11 = nA * (m11 + m21)
        r12 = nA * (m12 + m22)
        m21 = G * (r11 - m11) + nG * m21
        m22 = G * (r12 - m12) + nG * m22
        m11, m12 = r11, r12
        if ln == need[j]:
            rows.append((ln, m11, m12, m21, m22))
            j += 1
            if j == len(need):
                break
    return rows


def holt_blocked(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float,
    gamma: float,
    block_len: int = 262_144,
    max_blocks: int = 10_000,
) -> DataFrame:
    """`holt` evaluated as a BLOCKED fold (see the blocked-family
    banner): the Holt step is affine on (l, b), so each block
    partial-folds to a 2x2 matrix M plus offset c — per step,

        c1' = (1-a)*(c1+c2) + a*x
        c2' = g*(c1' - c1) + (1-g)*c2

    — and blocks compose by matrix product. Block 0 folds directly
    from holt's exact (l_2, b_2) init (M = 0), so the composed c IS
    the state. Keys with n < 2 are dropped (the holt contract).
    Returns one row per key: (key, n, level, trend, forecast).

    The matrix part is DATA-INDEPENDENT — M is T^len for the
    constant step matrix T — so the in-plan fold carries only the
    2-field offset vector (the scalar `ewma_blocked` memory profile;
    the retired 6-field struct fold's interpreted allocation
    pressure needed a 3x larger heap at 100M rows/key — SCALE.md
    r11/r12) and M(len) arrives by a broadcast join against a
    driver-computed table of exactly the OCCURRING block lengths
    (`_blocked_series(with_lens=True)` + `_holt_linear_maps`),
    replayed with bit-identical IEEE ops. Driver cost is one
    key-sized distinct-count job plus an O(max_len) sweep; the map
    table is a handful of rows."""
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if not 0.0 < gamma < 1.0:
        raise ValueError("gamma must be in (0, 1)")
    no_output_collision(
        "holt_blocked", "key_col", key_col,
        ("n", "level", "trend", "forecast"),
    )
    A, G = F.lit(float(alpha)), F.lit(float(gamma))
    nA, nG = F.lit(1.0 - float(alpha)), F.lit(1.0 - float(gamma))
    blocks, lens = _blocked_series(
        df, key_col, order_col, value_col, "holt_blocked",
        block_len, max_blocks, with_lens=True,
    )
    blocks = blocks.filter(F.col("n") >= 2)
    mt = F.broadcast(
        df.sparkSession.createDataFrame(
            _holt_linear_maps(alpha, gamma, lens),
            "__len long, __tm11 double, __tm12 double,"
            " __tm21 double, __tm22 double",
        )
    )
    blocks = blocks.join(
        mt, F.size(F.col("_bs")).cast("long") == F.col("__len")
    ).drop("__len")
    vals = F.col("_bs").getField("__v")
    is0 = F.col("__blk") == F.lit(0)
    v1, v2 = F.element_at(vals, 1), F.element_at(vals, 2)
    zero = F.lit(0.0)

    def mk(m11, m12, m21, m22, c1, c2):
        return F.struct(
            m11.alias("m11"), m12.alias("m12"),
            m21.alias("m21"), m22.alias("m22"),
            c1.alias("c1"), c2.alias("c2"),
        )

    # block 0 init: holt's exact (l_2, b_2); M = 0 (and STAYS 0
    # under the linear recurrence, so the zero literal is exact)
    l2 = A * v2 + nA * (v1 + (v2 - v1))
    b2 = G * ((A * v2 + nA * (v1 + (v2 - v1))) - v1) + nG * (v2 - v1)
    cinit = F.when(
        is0, F.struct(l2.alias("c1"), b2.alias("c2"))
    ).otherwise(F.struct(zero.alias("c1"), zero.alias("c2")))
    body = F.when(
        is0, F.slice(vals, 3, F.greatest(F.size(vals) - 2, F.lit(0)))
    ).otherwise(vals)

    def cstep(acc, x):
        nc1 = nA * (acc["c1"] + acc["c2"]) + A * x
        return F.struct(
            nc1.alias("c1"),
            (G * (nc1 - acc["c1"]) + nG * acc["c2"]).alias("c2"),
        )

    # the 6-field map is assembled in the aggregate's FINISH lambda:
    # referencing the fold's fields as separate top-level expressions
    # would re-run the whole per-element fold once per field
    # (SPARK-35410 — lambda trees are excluded from subexpression
    # elimination; the measured 4x-evaluation holt lesson)
    map_expr = F.aggregate(
        body,
        cinit,
        cstep,
        lambda acc: mk(
            F.when(is0, zero).otherwise(F.col("__tm11")),
            F.when(is0, zero).otherwise(F.col("__tm12")),
            F.when(is0, zero).otherwise(F.col("__tm21")),
            F.when(is0, zero).otherwise(F.col("__tm22")),
            acc["c1"],
            acc["c2"],
        ),
    )

    def compose(acc, m):
        # next map m applied AFTER acc: M' = m.M @ acc.M,
        # c' = m.M @ acc.c + m.c
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
        key_col,
        "n",
        level.alias("level"),
        trend.alias("trend"),
        (level + trend).alias("forecast"),
    )


def _hw_linear_maps(
    alpha: float,
    gamma: float,
    delta: float,
    period: int,
    lens: "Sequence[int]",
) -> "dict[int, list[float]]":
    """Driver-side numpy sweep of the Holt-Winters step's LINEAR
    part: M(len) = T^len over the K = period+2 state basis
    (l, b, s_1..s_m), snapshotted at exactly the block lengths in
    ``lens`` (sorted ascending upstream). One sweep to max(lens),
    O(max_len * K) vectorized work — the per-step expressions mirror
    the in-plan fold at x = 0, so M is the same linear map the
    retired-style full-state fold would carry, without any data
    dependence. Row-major flattening: M[i][j] = out[len][i*K + j]
    (component i's coefficient on initial basis j)."""
    import numpy as np

    m = int(period)
    K = m + 2
    A, G, D = float(alpha), float(gamma), float(delta)
    nA, nG, nD = 1.0 - A, 1.0 - G, 1.0 - D
    need = sorted({int(x) for x in lens})
    out: "dict[int, list[float]]" = {}
    if not need:
        return out
    V = np.eye(K)  # rows: state components; cols: basis directions
    j = 0
    for t in range(1, need[-1] + 1):
        l, b, s1 = V[0], V[1], V[2]
        nl = A * (0.0 - s1) + nA * (l + b)
        nb = G * (nl - l) + nG * b
        ns = D * (0.0 - nl) + nD * s1
        W = np.empty_like(V)
        W[0] = nl
        W[1] = nb
        if m > 1:
            W[2 : K - 1] = V[3:K]
        W[K - 1] = ns
        V = W
        if t == need[j]:
            out[t] = [float(x) for x in V.reshape(-1)]
            j += 1
            if j == len(need):
                break
    return out


def holt_winters_blocked(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int,
    alpha: float,
    gamma: float,
    delta: float,
    block_len: int = 262_144,
    max_blocks: int = 10_000,
) -> DataFrame:
    """`holt_winters` evaluated as a BLOCKED fold (see the
    blocked-family banner; VERDICT r11 item 5): the additive HW step
    is affine on the K = period+2 state (l, b, s_1..s_m), so a block
    partial-folds to (M, c) — and, as in `holt_blocked`, M is
    DATA-INDEPENDENT (M = T^len for the constant step matrix T), so
    the in-plan per-element fold carries only the (l, b, ring)
    offset state — the sequential fold's own accumulator shape — and
    M(len) arrives by broadcast join from the `_hw_linear_maps`
    driver sweep over exactly the occurring block lengths
    (`_blocked_series(with_lens=True)`).

    The per-key composition exploits that block 0's M is ZERO (it
    folds from the NIST init directly): the left fold carries only
    the K-vector c — c' = M_next @ c + c_next, K^2 unrolled
    multiply-adds per block — never the K^3 matrix-matrix product.
    Block 0 replays the sequential init-and-fold verbatim, so
    single-block keys are BIT-IDENTICAL to `holt_winters` (pinned);
    multi-block keys re-associate like the rest of the family.
    Keys with n < 2*period are dropped (the sequential contract);
    ``block_len`` must be >= 2*period so block 0 contains both init
    cycles. ``period`` is capped at 24 (hour-of-day) — beyond that
    the unrolled K^2 compose and the K^2-per-len map table stop
    being the right trade; the sequential `holt_winters` with its
    `max_series_len` guard is the documented envelope. Returns one
    row per key: (key, n, level, trend, season, forecast)."""
    m = int(period)
    if m < 2:
        raise ValueError("holt_winters_blocked: period must be >= 2")
    if m > 24:
        raise ValueError(
            "holt_winters_blocked: period must be <= 24 — the"
            " composition unrolls (period+2)^2 expressions per block"
            " and the map table holds (period+2)^2 doubles per"
            " distinct block length; use the sequential holt_winters"
            " (max_series_len guard) beyond hour-of-day periods"
        )
    for name, v in (
        ("alpha", alpha), ("gamma", gamma), ("delta", delta)
    ):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{name} must be in (0, 1)")
    if int(block_len) < 2 * m:
        raise ValueError(
            "holt_winters_blocked: block_len must be >= 2*period so"
            " block 0 contains both init cycles"
        )
    no_output_collision(
        "holt_winters_blocked", "key_col", key_col,
        ("n", "level", "trend", "season", "forecast"),
    )
    K = m + 2
    A, G, D = (
        F.lit(float(alpha)), F.lit(float(gamma)), F.lit(float(delta))
    )
    nA, nG, nD = (
        F.lit(1.0 - float(alpha)),
        F.lit(1.0 - float(gamma)),
        F.lit(1.0 - float(delta)),
    )
    fm = F.lit(float(m))
    blocks, lens = _blocked_series(
        df, key_col, order_col, value_col, "holt_winters_blocked",
        block_len, max_blocks, with_lens=True,
    )
    blocks = blocks.filter(F.col("n") >= 2 * m)
    if len(lens) * K * K > 4_000_000:
        raise ValueError(
            f"holt_winters_blocked: {len(lens)} distinct block"
            f" lengths x K^2={K * K} map cells exceed the broadcast"
            " envelope — pick a block_len that evens out the last"
            " blocks (fewer distinct lengths) or a smaller period"
        )
    hw_maps = _hw_linear_maps(alpha, gamma, delta, m, lens)
    mt = F.broadcast(
        df.sparkSession.createDataFrame(
            [(ln, hw_maps[ln]) for ln in lens],
            "__len long, __mm array<double>",
        )
    )
    vals = F.col("_bs").getField("__v")
    is0 = F.col("__blk") == F.lit(0)

    def _fold_sum(arr):
        # left-to-right pinned-order sum — the sequential init shape
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    mean1 = _fold_sum(F.slice(vals, 1, m)) / fm
    mean2 = _fold_sum(F.slice(vals, m + 1, m)) / fm
    staged0 = blocks.join(
        mt, F.size(F.col("_bs")).cast("long") == F.col("__len")
    ).drop("__len").select(
        "__k", "__blk", "n", "_n_ord", "_bs", "__mm",
        F.when(is0, mean1).alias("_m1"),
        F.when(is0, mean2).alias("_m2"),
    )
    vals0 = F.col("_bs").getField("__v")
    zeros_m = F.array(*[F.lit(0.0)] * m)
    # block 0: the sequential NIST init verbatim (its block holds the
    # first 2m elements by the block_len >= 2m guard); other blocks:
    # the zero state, so the fold result IS the affine offset c
    init = F.when(
        is0,
        F.struct(
            F.col("_m1").alias("l"),
            ((F.col("_m2") - F.col("_m1")) / fm).alias("b"),
            F.transform(
                F.slice(vals0, 1, m), lambda v: v - F.col("_m1")
            ).alias("s"),
        ),
    ).otherwise(
        F.struct(
            F.lit(0.0).alias("l"),
            F.lit(0.0).alias("b"),
            zeros_m.alias("s"),
        )
    )
    body = F.when(
        is0,
        F.slice(vals0, m + 1, F.greatest(F.size(vals0) - m, F.lit(0))),
    ).otherwise(vals0)

    def step(acc, x):
        # the sequential holt_winters fold lambda VERBATIM — the
        # pinned IEEE shape that makes single-block keys bit-identical
        return F.struct(
            (
                A * (x - F.element_at(acc["s"], 1))
                + nA * (acc["l"] + acc["b"])
            ).alias("l"),
            (
                G
                * (
                    (
                        A * (x - F.element_at(acc["s"], 1))
                        + nA * (acc["l"] + acc["b"])
                    )
                    - acc["l"]
                )
                + nG * acc["b"]
            ).alias("b"),
            F.concat(
                F.slice(acc["s"], 2, m - 1),
                F.array(
                    D
                    * (
                        x
                        - (
                            A * (x - F.element_at(acc["s"], 1))
                            + nA * (acc["l"] + acc["b"])
                        )
                    )
                    + nD * F.element_at(acc["s"], 1)
                ),
            ).alias("s"),
        )

    zero_mm = F.array(*[F.lit(0.0)] * (K * K))
    # finish lambda: assemble the (mm, c) map in ONE fold evaluation
    # (SPARK-35410 — separate field references would re-run the fold)
    map_expr = F.aggregate(
        body,
        init,
        step,
        lambda acc: F.struct(
            F.when(is0, zero_mm).otherwise(F.col("__mm")).alias("mm"),
            F.concat(F.array(acc["l"], acc["b"]), acc["s"]).alias("c"),
        ),
    )
    summarized = staged0.select(
        "__k",
        "n",
        "_n_ord",
        F.struct(F.col("__blk").alias("i"), map_expr.alias("m")).alias(
            "_bm"
        ),
    )
    per_key = summarized.groupBy("__k").agg(
        F.array_sort(F.collect_list("_bm")).alias("_ms"),
        F.first("n").alias("n"),
        F.first("_n_ord").alias("_n_ord"),
    )
    maps_col = F.col("_ms").getField("m")

    def apply_map(mx, acc_c):
        # c' = mx.M @ c + mx.c — K^2 unrolled multiply-adds; the
        # matrix-matrix product is never needed because the fold
        # seed (block 0) has M = 0
        rows = []
        for i in range(K):
            e = F.element_at(mx["mm"], i * K + 1) * F.element_at(
                acc_c, 1
            )
            for k in range(1, K):
                e = e + F.element_at(
                    mx["mm"], i * K + k + 1
                ) * F.element_at(acc_c, k + 1)
            rows.append(e + F.element_at(mx["c"], i + 1))
        return F.array(*rows)

    composed = F.aggregate(
        F.slice(maps_col, 2, F.greatest(F.size(maps_col) - 1, F.lit(0))),
        F.element_at(maps_col, 1).getField("c"),
        lambda acc_c, mx: apply_map(mx, acc_c),
    )
    staged = per_key.select(
        F.col("__k").alias(key_col), "n", "_n_ord", composed.alias("_c")
    )
    level = _dup_order_guard(
        "holt_winters_blocked", key_col, F.element_at(F.col("_c"), 1)
    )
    trend = _dup_order_guard(
        "holt_winters_blocked", key_col, F.element_at(F.col("_c"), 2)
    )
    season = _dup_order_guard(
        "holt_winters_blocked", key_col, F.element_at(F.col("_c"), 3)
    )
    return staged.select(
        key_col,
        "n",
        level.alias("level"),
        trend.alias("trend"),
        season.alias("season"),
        (level + trend + season).alias("forecast"),
    )


def cusum_blocked(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    block_len: int = 262_144,
    max_blocks: int = 10_000,
) -> DataFrame:
    """`cusum` evaluated as a BLOCKED fold (see the blocked-family
    banner): the CUSUM step s -> max(0, s + d) is affine in the
    MAX-PLUS semiring, so a block partial-folds to the map
    s -> max(h, s + a) — per step d: h' = max(0, h + d), a' = a + d,
    identity (h=0, a=0) valid because s >= 0 throughout — and blocks
    compose as h' = max(m.h, acc.h + m.a), a' = acc.a + m.a. With
    integer-exact deltas every operation is exact in binary64, so
    blocked == sequential BIT-FOR-BIT at any length (the stress
    fixture). Returns one row per key: (key, n, cusum)."""
    if not 0.0 <= slack:
        raise ValueError("cusum_blocked: slack must be >= 0")
    no_output_collision(
        "cusum_blocked", "key_col", key_col, ("n", "cusum")
    )
    adj = F.lit(float(target) + float(slack))
    blocks = _blocked_series(
        df, key_col, order_col, value_col, "cusum_blocked",
        block_len, max_blocks,
    )
    vals = F.col("_bs").getField("__v")
    init = F.struct(F.lit(0.0).alias("h"), F.lit(0.0).alias("a"))
    map_expr = F.aggregate(
        vals,
        init,
        lambda acc, x: F.struct(
            F.greatest(F.lit(0.0), acc["h"] + (x - adj)).alias("h"),
            (acc["a"] + (x - adj)).alias("a"),
        ),
    )
    staged = _blocked_compose(
        blocks,
        key_col,
        map_expr,
        lambda acc, m: F.struct(
            F.greatest(m["h"], acc["h"] + m["a"]).alias("h"),
            (acc["a"] + m["a"]).alias("a"),
        ),
    )
    # apply the composed map to s_0 = 0: f(0) = max(h, 0 + a).
    # (h >= a always — h's unrolled form is the max over all
    # clipped suffix sums, one of which is the full sum a, computed
    # by the identical addition sequence — so this equals h; the
    # greatest() spells f(0) literally rather than relying on it.)
    out = _dup_order_guard(
        "cusum_blocked",
        key_col,
        F.greatest(F.col("_f")["h"], F.col("_f")["a"]),
    )
    return staged.select(key_col, "n", out.alias("cusum"))


def welch_ttest(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the
    ``value_col`` populations of ``df_a`` and ``df_b``.

    Returns a ONE-ROW DataFrame: n_a, n_b, mean_a, mean_b, var_a,
    var_b (sample variances, /(n-1)), t_stat, dof
    (Welch–Satterthwaite). Means/variances are in the original
    units. NULL values are excluded (SQL aggregate semantics).

    Scale: each side is one scan reduced map-side to 3 scalars; the
    statistic is driver-side arithmetic. At 100 TB this is the
    minimum possible work — no shuffle wider than the partial
    aggregates.
    """

    def moments(df: DataFrame, tag: str):
        v = F.col(value_col)
        u = F.round(v * scale).cast("decimal(38,0)")
        return df.filter(v.isNotNull()).agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{tag}"),
            F.sum(u).alias(f"s_{tag}"),
            F.sum(u * u).alias(f"ss_{tag}"),
        )

    ma = moments(df_a, "a").collect()[0]
    mb = moments(df_b, "b").collect()[0]
    na, nb = int(ma["n_a"]), int(mb["n_b"])
    if na < 2 or nb < 2:
        raise ValueError("welch_ttest needs >= 2 non-null rows per side")
    sa, ssa = float(ma["s_a"]), float(ma["ss_a"])
    sb, ssb = float(mb["s_b"]), float(mb["ss_b"])
    # All of the below is deterministic IEEE double arithmetic on
    # identical inputs — the oracle writes the same expression tree.
    mean_a, mean_b = sa / na, sb / nb
    var_a = (ssa - sa * sa / na) / (na - 1)
    var_b = (ssb - sb * sb / nb) / (nb - 1)
    se2_a, se2_b = var_a / na, var_b / nb
    # sqrt/products only (no pow): libm pow(x, 0.5) need not equal
    # the correctly-rounded IEEE sqrt every SQL engine uses
    t_stat = (mean_a - mean_b) / math.sqrt(se2_a + se2_b)
    dof = (se2_a + se2_b) * (se2_a + se2_b) / (
        se2_a * se2_a / (na - 1) + se2_b * se2_b / (nb - 1)
    )
    spark = df_a.sparkSession
    row = [
        (
            na,
            nb,
            mean_a / scale,
            mean_b / scale,
            var_a / (scale * scale),
            var_b / (scale * scale),
            t_stat,
            dof,
        )
    ]
    return spark.createDataFrame(
        row,
        "n_a long, n_b long, mean_a double, mean_b double, "
        "var_a double, var_b double, t_stat double, dof double",
    )


def ridge2(
    df: DataFrame,
    x_cols: Sequence[str],
    y_col: str,
    lam: float,
    scale: float = 1e6,
) -> DataFrame:
    """Closed-form ridge regression plus an (unpenalized,
    absorbed-by-centering) intercept: minimize
    ||y - a - Xb||^2 + lam*||b||^2, solved as
    b = (X'X_c + lam*I)^{-1} X'y_c on CENTERED moments, a = my - b.mx.

    The regularized complement of `estimate.estimate` (exact OLS,
    reference `hdfe/hdfe.py`): at 100 TB feature scales,
    near-collinear regressor pairs that `collinearity.py` flags get
    a conditioned solve instead of a column drop.

    Exactness: the 9 sufficient moments are fixed-point DECIMAL(38,0)
    sums of ``round(value*scale)`` integers (one scan, map-side
    partials, order-independent); for p=2 the centered Gram, the 2x2
    adjugate inverse, and the coefficients are then one deterministic
    IEEE expression tree evaluated driver-side — a SQL oracle mirrors
    it literally (`validate.py::mahalanobis_outliers` pattern). For
    p != 2 the same exact moments feed a driver-side p×p
    ``np.linalg.solve`` (`_ridge_general`) — deterministic per
    platform, not SQL-mirrorable, so the certificate stays p=2.
    Returns ONE row: n, b_<x_i>..., intercept, lam.
    """
    x_cols = list(x_cols)
    if len(x_cols) != 2:
        return _ridge_general(df, x_cols, y_col, lam, scale)
    x1, x2, y = x_cols[0], x_cols[1], y_col

    def u(c):
        return F.round(F.col(c) * scale).cast("decimal(38,0)")

    cond = (
        F.col(x1).isNotNull()
        & F.col(x2).isNotNull()
        & F.col(y).isNotNull()
    )
    m = (
        df.filter(cond)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(u(x1)).alias("s1"),
            F.sum(u(x2)).alias("s2"),
            F.sum(u(y)).alias("sy"),
            F.sum(u(x1) * u(x1)).alias("s11"),
            F.sum(u(x1) * u(x2)).alias("s12"),
            F.sum(u(x2) * u(x2)).alias("s22"),
            F.sum(u(x1) * u(y)).alias("s1y"),
            F.sum(u(x2) * u(y)).alias("s2y"),
        )
        .collect()[0]
    )
    n = float(m["n"])
    s1, s2, sy = float(m["s1"]), float(m["s2"]), float(m["sy"])
    s11, s12, s22 = float(m["s11"]), float(m["s12"]), float(m["s22"])
    s1y, s2y = float(m["s1y"]), float(m["s2y"])
    m1, m2, my = s1 / n, s2 / n, sy / n
    # centered Gram and cross-moments, still in scaled units
    a11 = s11 - n * m1 * m1
    a12 = s12 - n * m1 * m2
    a22 = s22 - n * m2 * m2
    g1 = s1y - n * m1 * my
    g2 = s2y - n * m2 * my
    # ridge term in scaled units: b is unit-free per scaled x, and
    # the caller's lam applies to original units, so lam scales by
    # scale^2 exactly like the Gram entries
    ls = lam * scale * scale
    det = (a11 + ls) * (a22 + ls) - a12 * a12
    b1 = ((a22 + ls) * g1 - a12 * g2) / det
    b2 = ((a11 + ls) * g2 - a12 * g1) / det
    intercept = (my - b1 * m1 - b2 * m2) / scale
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(m["n"]), b1, b2, intercept, lam)],
        f"n long, b_{x1} double, b_{x2} double, "
        "intercept double, lam double",
    )


def _ridge_general(
    df: DataFrame,
    x_cols: list,
    y_col: str,
    lam: float,
    scale: float,
) -> DataFrame:
    """General-p ridge: the SAME one-scan exact fixed-point moments
    as the p=2 path (every centered-Gram input is an order-free
    DECIMAL(38,0) sum), with the p×p regularized solve done
    driver-side via ``np.linalg.solve`` — deterministic per
    platform, but not a literal SQL expression tree, so the
    cross-engine certificate query keeps the p=2 adjugate shape.
    Returns ONE row: n, b_<x_i>..., intercept, lam."""
    import numpy as np

    if len(x_cols) < 1:
        raise ValueError("ridge2 needs >= 1 regressor")
    y = y_col

    def u(c):
        return F.round(F.col(c) * scale).cast("decimal(38,0)")

    cond = F.col(y).isNotNull()
    for c in x_cols:
        cond = cond & F.col(c).isNotNull()
    p = len(x_cols)
    exprs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i, c in enumerate(x_cols):
        exprs.append(F.sum(u(c)).alias(f"s{i}"))
    exprs.append(F.sum(u(y)).alias("sy"))
    for i in range(p):
        for j in range(i, p):
            exprs.append(
                F.sum(u(x_cols[i]) * u(x_cols[j])).alias(f"s{i}_{j}")
            )
        exprs.append(F.sum(u(x_cols[i]) * u(y)).alias(f"s{i}_y"))
    m = df.filter(cond).agg(*exprs).collect()[0]
    n = float(m["n"])
    if n == 0:
        raise ValueError("ridge2: no rows with all regressors and y")
    mx = np.array([float(m[f"s{i}"]) / n for i in range(p)])
    my = float(m["sy"]) / n
    A = np.empty((p, p))
    g = np.empty(p)
    for i in range(p):
        for j in range(i, p):
            A[i, j] = A[j, i] = float(m[f"s{i}_{j}"]) - n * mx[i] * mx[j]
        g[i] = float(m[f"s{i}_y"]) - n * mx[i] * my
    ls = lam * scale * scale
    b = np.linalg.solve(A + ls * np.eye(p), g)
    intercept = (my - float(b @ mx)) / scale
    names = ", ".join(f"b_{c} double" for c in x_cols)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(m["n"]), *[float(v) for v in b], intercept, lam)],
        f"n long, {names}, intercept double, lam double",
    )


def _contingency(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Shared contingency scaffold for `chi2_independence` and
    `mutual_information`: NULL-filtered (a, b) cell counts with both
    margins and the grand total joined back broadcast — ONE shuffle
    on (a, b), margin re-aggregations over the tiny cell table.
    Columns: col_a, col_b, obs, row_total, col_total, grand."""
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    row_m = cells.groupBy(col_a).agg(F.sum("obs").alias("row_total"))
    col_m = cells.groupBy(col_b).agg(F.sum("obs").alias("col_total"))
    grand = cells.agg(F.sum("obs").alias("grand"))
    return (
        cells.join(F.broadcast(row_m), col_a)
        .join(F.broadcast(col_m), col_b)
        .crossJoin(F.broadcast(grand))
    )


def chi2_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-squared test of independence between two categorical
    columns: one row per observed (col_a, col_b) cell with the
    observed count, expected count under independence, and the
    cell's chi-squared term (obs-exp)^2/exp.

    The caller sums ``chi2_term`` for the statistic and compares to
    chi2((|A|-1)(|B|-1)); per-cell output keeps every value free of
    float-summation order (expected = exact-bigint product / exact
    bigint — one IEEE division per cell).

    Scale: ONE shuffle on (col_a, col_b) builds the table; margins
    are re-aggregations of the |A|x|B|-cell table (tiny), joined
    back broadcast.
    """
    out = _contingency(df, col_a, col_b)
    exp = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("grand").cast("double")
    )
    term = (F.col("obs").cast("double") - exp) * (
        F.col("obs").cast("double") - exp
    ) / exp
    return out.select(
        col_a,
        col_b,
        "obs",
        "row_total",
        "col_total",
        exp.alias("expected"),
        term.alias("chi2_term"),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float,
    out_col: str = "ewma",
    max_series_len: int = MAX_SERIES_LEN,
) -> DataFrame:
    """Per-key FINAL exponential moving average, pandas
    ``adjust=False`` recursion y_0 = x_0, y_t = alpha*x_t +
    (1-alpha)*y_{t-1}, evaluated as a left fold over the key's
    order-sorted values. Returns one row per key: (key, n, ewma).

    Why a fold and not a windowed closed form: the fold replays the
    recursion's exact IEEE operation sequence, and DuckDB's
    ``list_reduce`` (acc starts at the first element, same as y_0 =
    x_0) is the identical left fold — bit-reproducible across
    engines. A windowed SUM of x_j*(1-a)^{-j} would hit segment-tree
    vs sequential summation-order divergence AND overflow for long
    series.

    ``order_col`` must totally order each key's rows (same contract
    as ``rank.global_rank``) — ENFORCED, not prose: the aggregation
    also counts distinct order values per key, and any key where
    count != distinct-count raises in-plan via ``raise_error``
    (the loud-failure convention of ``kmeans_fixed``'s duplicate-
    seed check). Silently, ``array_sort`` over (order, value)
    structs would break order ties by VALUE while a SQL
    ``list(... ORDER BY order)`` oracle leaves tie order
    unspecified — the engines could diverge without an error.
    Scale: one shuffle on the key; each key's series materializes
    as an in-memory array in its task (fine for per-entity event
    series; for million-row single-key series, segment the fold:
    EWMA composes associatively as y = A*y_prev + B per block).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    per_key = _ordered_series(
        df, key_col, order_col, value_col, "ewma", max_series_len
    )
    vals = F.col("_xs").getField("v")
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    guarded = _dup_order_guard("ewma", key_col, folded)
    return per_key.select(key_col, "n", guarded.alias(out_col))


def holt(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float,
    gamma: float,
    max_series_len: int = MAX_SERIES_LEN,
) -> DataFrame:
    """Per-key FINAL Holt linear (double exponential) smoothing
    state — `ewma`'s trend-aware sibling and the classic one-step
    forecaster for per-entity event series. Init l_1 = x_1,
    b_1 = x_2 - x_1; for t >= 2:

        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = gamma*(l_t - l_{t-1}) + (1-gamma)*b_{t-1}

    Returns one row per key with >= 2 observations: (key, n, level,
    trend, forecast) where forecast = level + trend (the one-step-
    ahead prediction).

    Like `ewma`, the recursion is evaluated as a left fold over the
    key's order-sorted values so the exact IEEE operation sequence
    is pinned; the state is a 2-field struct and the SQL oracle is a
    RECURSIVE CTE replaying the identical expression tree row by row
    (the `survival` product-limit pattern — DuckDB's list_reduce
    cannot carry a 2-component accumulator). b_t references l_t: the
    fold inlines l_t's expression into b_t's tree verbatim, which
    re-evaluates the same deterministic subtree — bit-identical, no
    ordering hazard. Keys with a single observation have no defined
    trend and are dropped (n >= 2 contract, mirrored by the oracle's
    HAVING).

    ``order_col`` must totally order each key's rows — enforced
    in-plan by the shared duplicate-order guard. Scale: one shuffle
    on the key; each key's series materializes in its task (the ewma
    segmentation note applies: Holt also composes associatively as
    an affine map on (l, b) per block).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if not 0.0 < gamma < 1.0:
        raise ValueError("gamma must be in (0, 1)")
    per_key = _ordered_series(
        df, key_col, order_col, value_col, "holt", max_series_len
    ).filter(F.col("n") >= 2)
    vals = F.col("_xs").getField("v")
    v1 = F.element_at(vals, 1)
    v2 = F.element_at(vals, 2)
    A, G = F.lit(float(alpha)), F.lit(float(gamma))
    nA, nG = F.lit(1.0 - float(alpha)), F.lit(1.0 - float(gamma))
    init = F.struct(
        (A * v2 + nA * (v1 + (v2 - v1))).alias("l"),
        (
            G * ((A * v2 + nA * (v1 + (v2 - v1))) - v1)
            + nG * (v2 - v1)
        ).alias("b"),
    )
    folded = F.aggregate(
        F.slice(vals, 3, F.greatest(F.size(vals) - 2, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (A * x + nA * (acc["l"] + acc["b"])).alias("l"),
            (
                G * ((A * x + nA * (acc["l"] + acc["b"])) - acc["l"])
                + nG * acc["b"]
            ).alias("b"),
        ),
    )
    # Materialize the fold ONCE. The O(series)-step F.aggregate tree
    # contains lambda variables, which whole-stage subexpression
    # elimination skips (SPARK-35410); referencing `folded` from
    # level, trend, and forecast would evaluate the entire fold 4x
    # per key. Staging it behind its own projection pins a single
    # evaluation — CollapseProject keeps the two projections apart
    # because the producer expression is non-cheap and referenced
    # more than once downstream.
    staged = per_key.select(key_col, "n", "_n_ord", folded.alias("_f"))
    level = _dup_order_guard("holt", key_col, F.col("_f")["l"])
    trend = _dup_order_guard("holt", key_col, F.col("_f")["b"])
    return staged.select(
        key_col,
        "n",
        level.alias("level"),
        trend.alias("trend"),
        (level + trend).alias("forecast"),
    )


def holt_winters(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int,
    alpha: float,
    gamma: float,
    delta: float,
    max_series_len: int = MAX_SERIES_LEN,
) -> DataFrame:
    """Per-key FINAL Holt-Winters ADDITIVE smoothing state — `holt`'s
    seasonal completion (triple exponential smoothing), the standard
    forecaster for per-entity series with a known cycle ``period``
    (hour-of-day, day-of-week, ...). Classical (NIST) init over the
    first two cycles, then for t > m (m = period):

        l_t = alpha*(x_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = gamma*(l_t - l_{t-1}) + (1-gamma)*b_{t-1}
        s_t = delta*(x_t - l_t) + (1-delta)*s_{t-m}

    with l_m = mean(x_1..x_m), b_m = (mean(x_{m+1}..x_{2m}) -
    mean(x_1..x_m)) / m, s_i = x_i - l_m for i = 1..m. Returns one
    row per key with >= 2m observations (shorter keys have no
    defined second-cycle trend and are dropped — the n >= 2 holt
    contract, scaled): (key, n, level, trend, season, forecast)
    where ``season`` is s_{n+1-m} (the component the next step
    consumes) and forecast = level + trend + season, the one-step-
    ahead prediction.

    Determinism contract (the `holt` design, state widened): the
    recursion is ONE left fold whose accumulator is a
    (l, b, seasons array<double>) struct — the seasons array is an
    m-slot ring (head = the season the NEXT step consumes; each step
    pops the head and appends the refreshed slot), so the exact IEEE
    operation sequence is pinned and a SQL oracle replays it as a
    RECURSIVE CTE carrying a LIST column. The init sums are spelled
    as left-to-right folds over the first/second cycle slices —
    never a float SUM aggregate, whose order is engine-dependent.
    The fold is staged behind one projection (SPARK-35410: lambda
    trees are excluded from subexpression elimination — the measured
    4x-evaluation holt lesson) before level/trend/season/forecast
    reference it. ``order_col`` must totally order each key's rows
    (shared duplicate-order guard).

    Scale: one shuffle on the key; each key's series materializes in
    its task; per-row fold work is O(1) amortized plus the O(m) ring
    rebuild — keep ``period`` modest (<= a few hundred), which every
    calendar seasonality is.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    for name, v in (("alpha", alpha), ("gamma", gamma), ("delta", delta)):
        if not 0.0 < v < 1.0:
            raise ValueError(f"{name} must be in (0, 1)")
    m = int(period)
    per_key = _ordered_series(
        df, key_col, order_col, value_col, "holt_winters",
        max_series_len,
    ).filter(F.col("n") >= 2 * m)
    vals = F.col("_xs").getField("v")
    A, G, D = (
        F.lit(float(alpha)),
        F.lit(float(gamma)),
        F.lit(float(delta)),
    )
    nA, nG, nD = (
        F.lit(1.0 - float(alpha)),
        F.lit(1.0 - float(gamma)),
        F.lit(1.0 - float(delta)),
    )
    fm = F.lit(float(m))

    def _fold_sum(arr):
        # left-to-right pinned-order sum (replayed by the oracle as
        # list_reduce — a scalar accumulator, which DuckDB supports)
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    mean1 = _fold_sum(F.slice(vals, 1, m)) / fm
    mean2 = _fold_sum(F.slice(vals, m + 1, m)) / fm
    # Stage the init-cycle means ONCE (same SPARK-35410 discipline as
    # the main fold: each mean is a lambda fold, and mean1 feeds l0,
    # b0, AND every seasonal slot — as raw expressions they would be
    # re-evaluated at every reference site).
    staged0 = per_key.select(
        key_col,
        "n",
        "_n_ord",
        "_xs",
        mean1.alias("_m1"),
        mean2.alias("_m2"),
    )
    vals0 = F.col("_xs").getField("v")
    init = F.struct(
        F.col("_m1").alias("l"),
        ((F.col("_m2") - F.col("_m1")) / fm).alias("b"),
        F.transform(
            F.slice(vals0, 1, m), lambda v: v - F.col("_m1")
        ).alias("s"),
    )
    folded = F.aggregate(
        F.slice(vals0, m + 1, F.greatest(F.size(vals0) - m, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (
                A * (x - F.element_at(acc["s"], 1))
                + nA * (acc["l"] + acc["b"])
            ).alias("l"),
            (
                G
                * (
                    (
                        A * (x - F.element_at(acc["s"], 1))
                        + nA * (acc["l"] + acc["b"])
                    )
                    - acc["l"]
                )
                + nG * acc["b"]
            ).alias("b"),
            F.concat(
                F.slice(acc["s"], 2, m - 1),
                F.array(
                    D
                    * (
                        x
                        - (
                            A * (x - F.element_at(acc["s"], 1))
                            + nA * (acc["l"] + acc["b"])
                        )
                    )
                    + nD * F.element_at(acc["s"], 1)
                ),
            ).alias("s"),
        ),
    )
    staged = staged0.select(
        key_col, "n", "_n_ord", folded.alias("_f")
    )
    level = _dup_order_guard("holt_winters", key_col, F.col("_f")["l"])
    trend = _dup_order_guard("holt_winters", key_col, F.col("_f")["b"])
    season = _dup_order_guard(
        "holt_winters", key_col, F.element_at(F.col("_f")["s"], 1)
    )
    return staged.select(
        key_col,
        "n",
        level.alias("level"),
        trend.alias("trend"),
        season.alias("season"),
        (level + trend + season).alias("forecast"),
    )


# ---------------------------------------------------------------
# Rank-based nonparametrics: built on the distinct-value table +
# distributed exact prefix sums (`operators/rank.py::prefix_sum`),
# so no global single-partition WindowExec ever appears: the
# cumulative pass runs over DISTINCT values (|V| << N rows), range-
# partitioned. Every statistic reduces to a handful of exact
# integer/decimal scalars; the final z / D / rho is one
# deterministic IEEE expression both engines share.


def _side_cells(df, value_col, side_col, a_label, b_label):
    """Distinct-value table with per-side counts and INCLUSIVE
    cumulative counts under the value order."""
    from hdfe_spark.operators.rank import prefix_sum

    cells = (
        df.filter(
            F.col(value_col).isNotNull()
            & F.col(side_col).isin([a_label, b_label])
        )
        .groupBy(value_col)
        .agg(
            F.sum(
                F.when(F.col(side_col) == a_label, 1).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col(side_col) == b_label, 1).otherwise(0)
            ).alias("cb"),
        )
    )
    cells = prefix_sum(cells, [value_col], "ca", out_col="cuma")
    cells = prefix_sum(cells, [value_col], "cb", out_col="cumb")
    return cells


def mann_whitney_u(
    df: DataFrame,
    side_col: str,
    value_col: str,
    a_label,
    b_label,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test with average-tie
    ranks and tie-corrected normal approximation (no continuity
    correction — documented, so the oracle states the same formula).

    Exactness: rank sums ride in HALF-UNITS — for a distinct value
    with c pooled occurrences, cum-before count B, the average rank
    is B + (c+1)/2, so 2*R_a = sum(ca * (2B + c + 1)) stays integral
    (DECIMAL(38,0): at 10^12 rows the products pass int64). The
    z-score is then driver-side IEEE arithmetic on 5 exact scalars.

    One groupBy builds the distinct-value cells; two distributed
    prefix sums give cumulative counts; one aggregation reduces to
    scalars. Returns one row: n_a, n_b, u_a, u_b, tie_term, z.
    """
    cells = _side_cells(df, value_col, side_col, a_label, b_label)
    c = (F.col("ca") + F.col("cb")).cast("decimal(38,0)")
    before = (
        F.col("cuma") + F.col("cumb") - F.col("ca") - F.col("cb")
    ).cast("decimal(38,0)")
    r2_term = F.col("ca").cast("decimal(38,0)") * (
        F.lit(2).cast("decimal(38,0)") * before + c + F.lit(1)
    )
    m = cells.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(r2_term).alias("ra2"),
        F.sum(c * c * c - c).alias("ties"),
    ).collect()[0]
    na, nb = int(m["na"]), int(m["nb"])
    if na == 0 or nb == 0:
        raise ValueError("mann_whitney_u: empty side")
    n = na + nb
    ra2, ties = float(m["ra2"]), float(m["ties"])
    u_a = ra2 / 2.0 - na * (na + 1) / 2.0
    u_b = float(na) * nb - u_a
    mu = float(na) * nb / 2.0
    var = (
        float(na) * nb / 12.0 * ((n + 1) - ties / (float(n) * (n - 1)))
    )
    if var <= 0.0:
        raise ValueError(
            "mann_whitney_u: zero rank variance (all pooled values "
            "tied) — the z statistic is undefined"
        )
    z = (u_a - mu) / math.sqrt(var)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(na, nb, u_a, u_b, ties, z)],
        "n_a long, n_b long, u_a double, u_b double, "
        "tie_term double, z double",
    )


def ks_2sample(
    df: DataFrame,
    side_col: str,
    value_col: str,
    a_label,
    b_label,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D: the max ECDF gap evaluated
    at every pooled distinct value, kept EXACT by cross-multiplying
    — |cuma*nb - cumb*na| is an integer (DECIMAL(38,0) at scale), so
    the argmax is order-free and engine-exact; D itself is one final
    integer division in IEEE double.

    Returns one row: n_a, n_b, d_num (the integer numerator, as
    DECIMAL(38,0) — it is bounded by n_a*n_b, which overflows int64
    once both sides exceed ~3e9 rows, well inside the 1e12-row scale
    this module targets), d = d_num/(n_a*n_b)."""
    cells = _side_cells(df, value_col, side_col, a_label, b_label)
    tot = cells.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    ).collect()[0]
    na, nb = int(tot["na"]), int(tot["nb"])
    if na == 0 or nb == 0:
        raise ValueError("ks_2sample: empty side")
    gap = F.abs(
        F.col("cuma").cast("decimal(38,0)") * F.lit(nb)
        - F.col("cumb").cast("decimal(38,0)") * F.lit(na)
    )
    m = cells.agg(F.max(gap).alias("d_num")).collect()[0]
    d_num = int(m["d_num"])  # exact arbitrary-precision Python int
    d = float(d_num) / (float(na) * nb)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(na, nb, _decimal.Decimal(d_num), d)],
        "n_a long, n_b long, d_num decimal(38,0), d double",
    )


def ks_by(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    a_label,
    b_label,
    max_cells_per_group: int = 8_000_000,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov D — `ks_2sample`
    stratified (distribution shift per segment/experiment, the
    companion of `welch_by`'s mean shift): within every group, the
    max ECDF gap over the group's pooled distinct values, kept EXACT
    by cross-multiplying — |cuma*nb - cumb*na| is an integer
    (DECIMAL(38,0)), so the per-group max is order-free and
    engine-exact; D is one final IEEE division per group.

    Unlike the global test (driver collect of two scalars), this is
    FULLY distributed: (group, value) cell counts, GROUP-PARTITIONED
    window prefix sums (parallel across groups, never a global sort
    — the `auc_by` shape), one grouped max. Groups where either side
    is empty return NULL d (the thin-arm `welch_by` convention);
    NULL values are excluded; a NULL group is itself a group.
    Returns one row per group: (group, n_a, n_b, d_num, d)."""
    no_output_collision(
        "ks_by", "group_col", group_col, ("n_a", "n_b", "d_num", "d")
    )
    if a_label == b_label:
        raise ValueError(
            "ks_by: a_label and b_label are the same value"
            f" ({a_label!r}) — one arm would be double-counted as"
            " both"
        )
    sv = F.col(side_col)
    cells = (
        df.filter(
            F.col(value_col).isNotNull()
            & ((sv == F.lit(a_label)) | (sv == F.lit(b_label)))
        )
        .groupBy(
            F.col(group_col).alias("__g"),
            F.col(value_col).alias("__v"),
        )
        .agg(
            F.coalesce(
                F.sum(F.when(sv == F.lit(a_label), F.lit(1))), F.lit(0)
            ).cast("long").alias("__ca"),
            F.coalesce(
                F.sum(F.when(sv == F.lit(b_label), F.lit(1))), F.lit(0)
            ).cast("long").alias("__cb"),
        )
    )
    cells = _max_cells_guard(
        cells, "ks_by", max_cells_per_group, "__ca"
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("__g")
    cum = cells.select(
        "__g",
        F.sum("__ca").over(w).cast("decimal(38,0)").alias("__cuma"),
        F.sum("__cb").over(w).cast("decimal(38,0)").alias("__cumb"),
        F.sum("__ca").over(wall).cast("long").alias("__na"),
        F.sum("__cb").over(wall).cast("long").alias("__nb"),
    )
    gap = F.abs(
        F.col("__cuma") * F.col("__nb").cast("decimal(38,0)")
        - F.col("__cumb") * F.col("__na").cast("decimal(38,0)")
    )
    agg = cum.groupBy("__g").agg(
        F.first("__na").alias("n_a"),
        F.first("__nb").alias("n_b"),
        F.max(gap).alias("d_num"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        F.col("__g").alias(group_col),
        "n_a",
        "n_b",
        "d_num",
        F.when(
            ok,
            F.col("d_num").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        ).alias("d"),
    )


def spearman_corr(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Spearman rank correlation with average-tie ranks, exactly:
    each column's ranks come from its distinct-value table (count +
    exclusive cumulative via distributed prefix sum) joined back to
    the rows — in half-units 2*rank = 2B + c + 1 stays integral, and
    the half-unit scaling cancels in the correlation. The Pearson
    formula then runs on five exact DECIMAL(38,0) sums; the final
    rho is deterministic IEEE double arithmetic.

    Never sorts the full table: two small distinct-value prefix
    sums + two joins back (broadcast when the value domain is
    small) + one aggregation. Returns one row: n, rho."""
    from hdfe_spark.operators.rank import prefix_sum

    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(x_col, y_col)

    def rank_table(col, rcol):
        cells = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        cells = prefix_sum(cells, [col], "c", out_col="cum")
        return cells.select(
            col,
            (
                F.lit(2) * (F.col("cum") - F.col("c"))
                + F.col("c")
                + F.lit(1)
            ).cast("decimal(38,0)").alias(rcol),
        )

    rx = rank_table(x_col, "r2x")
    ry = rank_table(y_col, "r2y")
    ranked = base.join(rx, x_col).join(ry, y_col)
    m = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).alias("sxx"),
        F.sum(F.col("r2x") * F.col("r2y")).alias("sxy"),
        F.sum(F.col("r2y") * F.col("r2y")).alias("syy"),
    ).collect()[0]
    n = float(m["n"])
    sx, sy = float(m["sx"]), float(m["sy"])
    sxx, sxy, syy = float(m["sxx"]), float(m["sxy"]), float(m["syy"])
    num = n * sxy - sx * sy
    den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    if den <= 0.0:
        raise ValueError(
            "spearman_corr: a column is constant (zero rank "
            "variance) — rho is undefined"
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        [(int(m["n"]), num / den)], "n long, rho double"
    )


def standardize(
    df: DataFrame,
    cols: Sequence[str],
    scale: float = 1e6,
    suffix: str = "_z",
) -> DataFrame:
    """Z-score standardization (the ML feature-scaling primitive):
    for each column, (x - mean)/stddev with SAMPLE stddev, where
    mean/stddev derive from exact fixed-point DECIMAL(38,0) moments
    (one scan for ALL columns) — so the per-row z-scores are
    deterministic IEEE doubles any engine reproduces. Adds
    ``<col><suffix>`` per input column; NULLs stay NULL."""
    cols = list(cols)
    aggs = []
    for c in cols:
        u = F.round(F.col(c) * scale).cast("decimal(38,0)")
        aggs.append(F.count(F.col(c)).cast("long").alias(f"n_{c}"))
        aggs.append(F.sum(u).alias(f"s_{c}"))
        aggs.append(F.sum(u * u).alias(f"ss_{c}"))
    m = df.agg(*aggs).collect()[0]
    out = df
    for c in cols:
        # per-column non-null counts: a shared row count would skew
        # the moments of any column carrying NULLs
        n = float(m[f"n_{c}"])
        if n < 2:
            raise ValueError(
                f"standardize: column {c!r} has {int(n)} non-null "
                "rows; sample stddev needs >= 2"
            )
        s, ss = float(m[f"s_{c}"]), float(m[f"ss_{c}"])
        mean = s / n
        sd = math.sqrt((ss - s * s / n) / (n - 1))
        if sd == 0.0:
            raise ValueError(
                f"standardize: column {c!r} is constant — z-scores "
                "are undefined"
            )
        z = (
            F.round(F.col(c) * scale).cast("double") - F.lit(mean)
        ) / F.lit(sd)
        out = out.withColumn(c + suffix, z)
    return out


def _non_nan(df: DataFrame, col: str):
    """NaN-as-missing predicate for a value column (review r14, the
    ADVICE-r13 estimator class applied family-wide): NaN passes
    isNotNull and would COUNT in the arm n while vanishing from the
    exact-decimal sums (round(NaN·scale) casts to NULL) — silently
    biasing means/variances. Non-float columns pay nothing."""
    ok = F.col(col).isNotNull()
    if dict(df.dtypes).get(col) in ("double", "float"):
        ok = ok & ~F.isnan(F.col(col))
    return ok


def welch_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Per-group Welch two-sample t-test — `welch_ttest` stratified:
    one t statistic per group between the ``arm_a`` and ``arm_b``
    populations of ``arm_col`` (the run-every-experiment-at-once
    primitive: 10k segments/experiments in ONE aggregation instead
    of 10k driver round trips).

    Engine-exact like the global test, hardened further: per
    (group, arm) moments are exact DECIMAL(38,0) sums of
    round(v * scale), and each sample-variance numerator n*ss - s*s
    is an EXACT decimal difference (the global test's Python-double
    ss - s*s/n spelling cancels catastrophically past 2^53 — the
    spearman_by/zscore_by lesson); t and the Welch–Satterthwaite
    dof are then one fixed IEEE expression per group (sqrt, never
    pow). Groups where either arm has n < 2 get NULL t/dof
    (a panel must not raise because one segment is thin — the
    zscore_by convention); a NULL group is itself a group. Means
    and variances are reported in ORIGINAL units. Returns one row
    per group: (group, n_a, n_b, mean_a, mean_b, var_a, var_b,
    t_stat, dof).

    Scale: ONE shuffle on the group (conditional per-arm moments in
    the same aggregation — never a self-join of two filtered
    scans), then pure row expressions."""
    no_output_collision(
        "welch_by",
        "group_col",
        group_col,
        (
            "n_a", "n_b", "mean_a", "mean_b", "var_a", "var_b",
            "t_stat", "dof",
        ),
    )
    if arm_a == arm_b:
        raise ValueError(
            "welch_by: arm_a and arm_b are the same value"
            f" ({arm_a!r}) — one arm would be double-counted as"
            " both"
        )
    v = F.col(value_col)
    u = F.round(v * F.lit(float(scale))).cast("decimal(38,0)")
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)

    def _arm(cond, tag):
        zero = F.lit(0).cast("decimal(38,0)")
        return [
            F.coalesce(
                F.sum(F.when(cond, F.lit(1))), F.lit(0)
            ).cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(F.when(cond, u)), zero).alias(f"__s_{tag}"),
            F.coalesce(F.sum(F.when(cond, u * u)), zero).alias(
                f"__ss_{tag}"
            ),
        ]

    m = (
        df.filter(_non_nan(df, value_col) & (is_a | is_b))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(*_arm(is_a, "a"), *_arm(is_b, "b"))
    )

    def _stats(tag):
        n = F.col(f"n_{tag}")
        nd = n.cast("double")
        varnum = _dec38_num(
            "welch_by", n, F.col(f"__ss_{tag}"), F.col(f"__s_{tag}")
        )
        mean = F.col(f"__s_{tag}").cast("double") / nd
        var = varnum / (nd * (nd - F.lit(1.0)))
        return nd, mean, var

    nda, mean_a, var_a = _stats("a")
    ndb, mean_b, var_b = _stats("b")
    se2a, se2b = var_a / nda, var_b / ndb
    t = (mean_a - mean_b) / F.sqrt(se2a + se2b)
    dof = (se2a + se2b) * (se2a + se2b) / (
        se2a * se2a / (nda - F.lit(1.0))
        + se2b * se2b / (ndb - F.lit(1.0))
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    sc, sc2 = F.lit(float(scale)), F.lit(float(scale) * float(scale))
    return m.select(
        F.col("__g").alias(group_col),
        "n_a",
        "n_b",
        F.when(F.col("n_a") >= 1, mean_a / sc).alias("mean_a"),
        F.when(F.col("n_b") >= 1, mean_b / sc).alias("mean_b"),
        F.when(F.col("n_a") >= 2, var_a / sc2).alias("var_a"),
        F.when(F.col("n_b") >= 2, var_b / sc2).alias("var_b"),
        F.when(ok, t).alias("t_stat"),
        F.when(ok, dof).alias("dof"),
    )


def zscore_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: float = 1e6,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score TRANSFORM — `standardize` stratified (scale
    features within segment/source/experiment-arm instead of
    globally): one row per input row with ``out_col`` appended.

    Engine-exact like its global sibling: per-group moments are
    exact DECIMAL(38,0) sums of round(v * scale); the sample
    variance numerator n*ss - s*s is an EXACT decimal difference
    (never the double cancellation — the spearman_by lesson), and z
    = (u - s/n) / sd is a fixed IEEE expression both engines spell
    verbatim. Groups with n < 2 or zero variance get NULL z (a
    transform must not poison the whole table the way the global
    `standardize` deliberately raises); NULL values stay NULL; a
    NULL group is itself a group (the `hll_by` convention).

    Scale: one shuffle for the per-group moments, one AQE-planned
    join back (group-cardinality-sized), pure row expressions after
    — no window over data rows, no driver collect."""
    no_inplace_overwrite("zscore_by", out_col, df.columns)
    u = F.round(F.col(value_col) * F.lit(float(scale))).cast(
        "decimal(38,0)"
    )
    m = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(u).alias("__s"),
            F.sum(u * u).alias("__ss"),
        )
    )
    nD = F.col("__n").cast("decimal(38,0)")
    varnum = (nD * F.col("__ss") - F.col("__s") * F.col("__s")).cast(
        "double"
    )
    nd = F.col("__n").cast("double")
    sd = F.sqrt(varnum / (nd * (nd - F.lit(1.0))))
    stats_t = m.select(
        "__g",
        "__n",
        (F.col("__s").cast("double") / nd).alias("__mean"),
        F.when((F.col("__n") >= 2) & (varnum > 0), sd).alias("__sd"),
    )
    uu = F.round(F.col(value_col) * F.lit(float(scale))).cast("double")
    return (
        df.join(
            stats_t, F.col(group_col).eqNullSafe(F.col("__g")), "left"
        )
        .withColumn(out_col, (uu - F.col("__mean")) / F.col("__sd"))
        .drop("__g", "__n", "__mean", "__sd")
    )


def winsorize_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    out_col: str = "w",
    accuracy: int | None = None,
) -> DataFrame:
    """Per-group winsorization: clamp ``value_col`` to its group's
    [p_lo, p_hi] percentiles — the outlier-taming transform
    run per segment before per-group means/regressions (a single
    hot group's tail otherwise sets the global fences).

    By default percentiles are exact order statistics
    (``percentile`` with linear interpolation — the
    `mad_outliers`/`brown_forsythe` portability precedent: both
    engines interpolate identically); the clamp is least/greatest,
    pure row expressions. NULL values stay NULL; a NULL group is
    itself a group.

    Scale: one shuffle for the per-group percentile pair (exact
    percentile sorts WITHIN each group's aggregation buffer — fine
    for per-entity groups), one AQE-planned join back. For
    billion-row groups pass ``accuracy`` to switch the cut pair to
    ``percentile_approx`` (the `mad_outliers` kwarg convention;
    Greenwald-Khanna rank error <= 1/accuracy, sketch memory
    O(accuracy * log n) per group regardless of group size — the
    route `grouped_quantiles_approx` certifies). Approx cuts are
    merge-order-dependent, so that mode is not oracle-hashable; the
    registered query keeps the exact default."""
    if not (0.0 <= p_lo < p_hi <= 1.0):
        raise ValueError(
            "winsorize_by: need 0 <= p_lo < p_hi <= 1"
        )
    if accuracy is not None and accuracy < 1:
        raise ValueError("winsorize_by: accuracy >= 1")
    no_inplace_overwrite("winsorize_by", out_col, df.columns)
    vq = quote_ident(value_col)
    if accuracy is None:
        lo_cut = F.expr(f"percentile({vq}, {p_lo!r})")
        hi_cut = F.expr(f"percentile({vq}, {p_hi!r})")
    else:
        lo_cut = F.percentile_approx(
            value_col, F.lit(float(p_lo)), F.lit(int(accuracy))
        )
        hi_cut = F.percentile_approx(
            value_col, F.lit(float(p_hi)), F.lit(int(accuracy))
        )
    cuts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(lo_cut.alias("__lo"), hi_cut.alias("__hi"))
    )
    return (
        df.join(cuts, F.col(group_col).eqNullSafe(F.col("__g")), "left")
        .withColumn(
            out_col,
            # explicit NULL guard: greatest/least SKIP null arguments
            # (greatest(NULL, lo) = lo), so an unguarded clamp would
            # silently rewrite missing values to the group's p_lo
            # bound — fabricated data (review r11, second pass)
            F.when(
                F.col(value_col).isNotNull(),
                F.least(
                    F.greatest(F.col(value_col), F.col("__lo")),
                    F.col("__hi"),
                ),
            ),
        )
        .drop("__g", "__lo", "__hi")
    )


def huber_irls2(
    df: DataFrame,
    x_col: str,
    y_col: str,
    delta: float,
    n_iter: int = 2,
    scale: float = 1e6,
    wbits: int = 20,
) -> DataFrame:
    """Huber-robust simple regression via ``n_iter`` IRLS sweeps —
    the outlier-resistant complement of `ridge2`/`estimate.estimate`
    (a single corrupt shard at 100 TB can drag an exact OLS slope
    arbitrarily; Huber caps each row's influence at ``delta``).

    Iteration t: weights w_i = min(1, delta/|r_i|) from the previous
    fit's residuals, then the weighted least-squares closed form on
    (1, x). Engine-exact in a distributed setting because the
    weights are QUANTIZED to ``wbits`` fractional bits
    (floor(w * 2^wbits), an integer 0..2^wbits): the weighted
    moments are then integer*integer products summed as
    DECIMAL(38,0) — order-free — while a raw double weight would
    make every moment a float sum whose value depends on partition
    boundaries. Each sweep is ONE aggregation scan; the closed-form
    solve is driver-side IEEE arithmetic a SQL oracle unrolls as CTE
    layers (the `kmeans`/`pagerank` certificate pattern).

    Returns one row: n, b0 (intercept), b1 (slope), n_downweighted
    (rows with w < 1 in the final sweep). Init is the UNWEIGHTED
    OLS fit (iteration 0).
    """
    if n_iter < 1:
        raise ValueError("n_iter >= 1")
    xu = F.round(F.col(x_col) * scale).cast("decimal(38,0)")
    yu = F.round(F.col(y_col) * scale).cast("decimal(38,0)")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )

    def wls(w_int):
        """Weighted moments with integer weights (w2 = 2^wbits
        denominator folds out of the normal equations)."""
        wd = w_int.cast("decimal(38,0)")
        m = base.agg(
            F.sum(wd).alias("sw"),
            F.sum(wd * xu).alias("swx"),
            F.sum(wd * yu).alias("swy"),
            F.sum(wd * xu * xu).alias("swxx"),
            F.sum(wd * xu * yu).alias("swxy"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((w_int < F.lit(1 << wbits)).cast("long")).alias("nd"),
        ).collect()[0]
        if int(m["n"]) == 0 or m["sw"] is None:
            raise ValueError(
                "huber_irls2: no rows with non-null x and y"
            )
        sw = float(m["sw"])
        swx, swy = float(m["swx"]), float(m["swy"])
        swxx, swxy = float(m["swxx"]), float(m["swxy"])
        # slope/intercept in scaled units
        den = sw * swxx - swx * swx
        if den == 0.0:
            raise ValueError(
                "huber_irls2: degenerate design (x is constant over "
                "the weighted sample — zero weighted variance); the "
                "slope is unidentified"
            )
        b1 = (sw * swxy - swx * swy) / den
        b0 = (swy - b1 * swx) / sw
        return b0, b1, int(m["n"]), int(m["nd"])

    one = F.lit(1 << wbits)
    b0, b1, n, _ = wls(one)  # iteration 0: unweighted OLS
    ds = delta * scale  # delta in scaled units
    nd = 0
    for _ in range(n_iter):
        r = F.abs(
            yu.cast("double")
            - F.lit(b0)
            - F.lit(b1) * xu.cast("double")
        )
        w = F.when(
            r <= F.lit(ds), one
        ).otherwise(
            F.floor(F.lit(ds) / r * F.lit(float(1 << wbits)))
            .cast("long")
        )
        b0, b1, n, nd = wls(w)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(n, b0 / scale, b1, nd)],
        "n long, b0 double, b1 double, n_downweighted long",
    )


def auc_score(
    df: DataFrame,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """ROC AUC of a score against a boolean label, computed exactly
    via the rank-sum identity AUC = U_pos / (n_pos * n_neg) with
    average-tie ranks (ties contribute 1/2, the standard trapezoid
    convention) — the classifier-eval companion of
    ``mann_whitney_u``, sharing its distinct-value prefix-sum path:
    never a global score sort, exact at any scale. Returns one row:
    n_pos, n_neg, auc.

    LABEL CONVENTION: BOOLEAN coercion — any nonzero label is
    positive, zero is negative (`auc_by` inherits this; the
    probability-comparing eval ops — `confusion_stats`,
    `brier_score`, `mcnemar_test` — instead raise on labels outside
    {0, 1} via `_bin01` because their algebra needs literal 0/1)."""
    sided = df.filter(F.col(label_col).isNotNull()).withColumn(
        "__side",
        F.when(F.col(label_col).cast("boolean"), "p").otherwise("n"),
    )
    r = mann_whitney_u(sided, "__side", score_col, "p", "n").collect()[0]
    na, nb = int(r["n_a"]), int(r["n_b"])
    auc = float(r["u_a"]) / (float(na) * nb)
    return df.sparkSession.createDataFrame(
        [(na, nb, auc)], "n_pos long, n_neg long, auc double"
    )


def rolling_beta(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    y_col: str,
    window: int,
    scale: float = 1e6,
    out_col: str = "beta",
) -> DataFrame:
    """Per-key rolling regression slope: at each row, the OLS beta
    of y on x over the trailing ``window`` rows (the time-series
    feature behind hedging ratios / sensitivity monitors).

    The five trailing moments are SLIDING SUMS OF INTEGERS
    (fixed-point micros): each is a running cumulative sum minus its
    value ``window`` rows back (one unbounded-frame pass + a lag —
    O(1) per row instead of Spark's O(window) per-row frame
    recompute, which measured 8x slower at 20M rows x window 20).
    The cumulative-minus-lag identity is EXACT only because the
    sums are integers — with floats the subtraction would smear
    rounding error across the window, and different engines'
    frame evaluation orders would disagree; here DuckDB's direct
    frame sums land on the same integers. The slope is one IEEE
    expression per row; windows where x is constant (den = 0, an
    exact integer test) yield NULL. One window pass, parallel
    across keys; ``order_col`` must totally order each key's rows.
    Rows with NULL x or y are EXCLUDED up front (they would
    otherwise inflate the window count n while dropping out of the
    moment sums — silently wrong slopes, not NULLs).
    """
    from pyspark.sql import Window as W

    df = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    xu = F.round(F.col(x_col) * scale).cast("decimal(38,0)")
    yu = F.round(F.col(y_col) * scale).cast("decimal(38,0)")
    wc = (
        W.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wl = W.partitionBy(key_col).orderBy(order_col)

    def sliding(expr):
        cum = F.sum(expr).over(wc)
        back = F.lag(cum, window).over(wl)
        return cum - F.coalesce(back, F.lit(0).cast("decimal(38,0)"))

    n = sliding(F.lit(1).cast("decimal(38,0)"))
    sx = sliding(xu)
    sy = sliding(yu)
    sxx = sliding(xu * xu)
    sxy = sliding(xu * yu)
    den = n * sxx - sx * sx  # exact decimal integer
    beta = F.when(
        den != F.lit(0),
        (n * sxy - sx * sy).cast("double") / den.cast("double"),
    )
    return df.withColumn(out_col, beta)


_KFOLD_HEX_5 = ["3333", "6666", "9999", "cccc"]  # floor(0x10000*k/5)


def kfold_ols(
    df: DataFrame,
    fold_key_cols: Sequence[str],
    x_col: str,
    y_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """5-fold cross-validated simple OLS in TWO passes total,
    regardless of fold count — the distributed CV pattern:

    1. one groupBy computes each fold's exact fixed-point moments;
       every fold's TRAINING moments are then total-minus-fold
       (exact integer subtraction — the fold-level leave-one-out
       trick, no per-fold re-scan);
    2. one scan scores every row against its own fold's held-out
       betas (broadcast fold->beta table) and reduces per-fold
       squared error.

    Folds come from a 4-hex md5 prefix of the concatenated
    ``fold_key_cols`` (group-aware: rows sharing the key stay in one
    fold — no leakage between near-duplicate rows), thresholds at
    floor(0x10000*k/5): engine-portable string compares. Residuals
    are quantized to integer micros (floor(r+0.5)) before squaring,
    so the per-fold SSE is an order-free integer sum — the <=0.5
    micro quantization is what makes the distributed metric
    reproducible bit-for-bit.

    Returns 5 rows: fold, n_train, n_test, b0, b1, rmse.
    """
    key = F.concat_ws(
        "#", *[F.col(c).cast("string") for c in fold_key_cols]
    )
    h = F.substring(F.md5(key), 1, 4)
    fold = F.lit(4)
    for i, hx in enumerate(reversed(_KFOLD_HEX_5)):
        fold = F.when(h < F.lit(hx), F.lit(3 - i)).otherwise(fold)
    xu = F.round(F.col(x_col) * scale).cast("decimal(38,0)")
    yu = F.round(F.col(y_col) * scale).cast("decimal(38,0)")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).withColumn("__fold", fold)
    m = {
        int(r["__fold"]): r
        for r in base.groupBy("__fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(xu).alias("sx"),
            F.sum(yu).alias("sy"),
            F.sum(xu * xu).alias("sxx"),
            F.sum(xu * yu).alias("sxy"),
        )
        .collect()
    }
    tot = {
        c: sum(int(m[f][c]) for f in m) for c in
        ("n", "sx", "sy", "sxx", "sxy")
    }
    betas = []
    for f in range(5):
        if f not in m:
            raise ValueError(f"fold {f} is empty; need >= 5 groups")
        n = float(tot["n"] - int(m[f]["n"]))
        sx = float(tot["sx"] - int(m[f]["sx"]))
        sy = float(tot["sy"] - int(m[f]["sy"]))
        sxx = float(tot["sxx"] - int(m[f]["sxx"]))
        sxy = float(tot["sxy"] - int(m[f]["sxy"]))
        den = n * sxx - sx * sx
        if den == 0.0:
            raise ValueError(
                f"kfold_ols: regressor {x_col!r} is constant on the "
                f"training folds complementary to fold {f} — the "
                "slope is undefined"
            )
        b1 = (n * sxy - sx * sy) / den
        b0 = (sy - b1 * sx) / n  # scaled units
        betas.append((f, int(n), b0, b1))
    spark = df.sparkSession
    bdf = F.broadcast(
        spark.createDataFrame(
            betas, "__fold int, n_train long, __b0 double, __b1 double"
        )
    )
    r = (
        yu.cast("double") - F.col("__b0") - F.col("__b1") * xu.cast("double")
    )
    r_int = F.floor(r + F.lit(0.5)).cast("decimal(38,0)")
    scored = base.join(bdf, "__fold").select(
        "__fold", "n_train", (r_int * r_int).alias("__r2"),
        F.col("__b0"), F.col("__b1"),
    )
    out = scored.groupBy("__fold", "n_train", "__b0", "__b1").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum("__r2").alias("__sse"),
    )
    rows = []
    for rr in out.collect():
        rmse = (
            math.sqrt(float(rr["__sse"]) / rr["n_test"]) / scale
        )
        rows.append(
            (
                int(rr["__fold"]),
                int(rr["n_train"]),
                int(rr["n_test"]),
                rr["__b0"] / scale,
                rr["__b1"],
                rmse,
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "fold int, n_train long, n_test long, b0 double, "
        "b1 double, rmse double",
    )


def _km_duration_guard(df, duration_col: str, opname: str) -> None:
    from pyspark.sql import types as T

    dt = df.schema[duration_col].dataType
    if not isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"{opname}: duration_col {duration_col!r} is "
            f"{dt.simpleString()}; the curve contract is integral "
            "durations (bin fractional times upstream)"
        )


def _km_cells(df, duration_col, event_col, group_cols, max_cells, opname):
    """Bounded (group..., duration) cell collect shared by the
    single-curve and stratified Kaplan-Meier: d (events), c
    (censored), and a NULL-event count that fails LOUD — a NULL
    outcome silently vanishing from the risk set would skew every
    downstream survival probability."""
    ev = F.col(event_col).cast("boolean")
    cell_df = (
        df.filter(F.col(duration_col).isNotNull())
        .groupBy(*group_cols, duration_col)
        .agg(
            F.sum(ev.cast("long")).cast("long").alias("d"),
            F.sum((~ev).cast("long")).cast("long").alias("c"),
            F.sum(ev.isNull().cast("long")).cast("long").alias("__nul"),
        )
    )
    cells = cell_df.limit(max_cells + 1).collect()
    if len(cells) > max_cells:
        raise ValueError(
            f"{opname}: distinct cells exceed max_cells={max_cells}; "
            "coarsen duration_col (bin to a coarser granularity) or "
            "raise max_cells deliberately"
        )
    if any(int(r["__nul"] or 0) > 0 for r in cells):
        raise ValueError(
            f"{opname}: NULL {event_col!r} values — an unknown "
            "outcome cannot be placed in the risk set; filter or "
            "impute upstream"
        )
    return cells


def _km_curve(cells_sorted):
    """Product-limit recurrence over duration-sorted cells: yields
    (t, n_risk, d, c, s) — the deterministic op sequence a
    recursive-CTE oracle replays."""
    n_risk = sum(int(r["d"]) + int(r["c"]) for r in cells_sorted)
    s = 1.0
    out = []
    for r in cells_sorted:
        d, c = int(r["d"]), int(r["c"])
        s = s * (1.0 - d / n_risk)
        out.append((n_risk, d, c, s))
        n_risk -= d + c
    return out


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str,
    event_col: str,
    max_cells: int = 100_000,
) -> DataFrame:
    """Kaplan-Meier survival curve: one row per distinct duration t
    with the at-risk count, deaths d, censored c, and the product-
    limit estimate S(t) = prod_{t' <= t} (1 - d/n_at_risk) — the
    churn/retention estimator that handles censored subjects (still
    active at observation end) correctly, which a plain retention
    ratio does not.

    Distribution: the heavy work is upstream (reducing raw events to
    one row per subject) and the per-duration cell aggregation (one
    groupBy, driver collect bounded via limit(max_cells+1) in the
    SAME pass). The T-step recurrence runs driver-side over the
    collected cells — the sequential float product is a
    deterministic op sequence a SQL oracle replays with a recursive
    CTE. ``event_col`` is boolean-like: true = observed event
    (death/churn), false = censored; NULL events raise (an unknown
    outcome cannot be placed in the risk set). Shares its cell/
    recurrence machinery with the stratified `kaplan_meier_by`.
    """
    _km_duration_guard(subjects, duration_col, "kaplan_meier")
    cells = _km_cells(
        subjects, duration_col, event_col, [], max_cells,
        "kaplan_meier",
    )
    cells.sort(key=lambda r: r[duration_col])
    rows = [
        (r[duration_col], n_risk, d, c, sv)
        for r, (n_risk, d, c, sv) in zip(cells, _km_curve(cells))
    ]
    return subjects.sparkSession.createDataFrame(
        rows,
        "t long, n_risk long, d long, c long, s double",
    )


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    a_label,
    b_label,
) -> DataFrame:
    """Two-proportion z-test (pooled standard error): is the success
    rate of group A different from group B? THE conversion-rate A/B
    test — the categorical sibling of ``welch_ttest``.

    Everything is counts until the final scalars: one aggregation
    scan reduces to 4 exact integers (n, successes per side); the
    rates, pooled proportion, and z are a deterministic IEEE
    expression any SQL oracle mirrors. Returns one row: n_a, n_b,
    s_a, s_b, p_a, p_b, z. Rows with NULL group or success are
    excluded; degenerate pooled rates (0 or 1: zero variance) raise.
    """
    suc = F.col(success_col).cast("boolean")
    m = (
        df.filter(
            suc.isNotNull()
            & F.col(group_col).isin([a_label, b_label])
        )
        .agg(
            F.sum(
                (F.col(group_col) == a_label).cast("long")
            ).alias("na"),
            F.sum(
                (F.col(group_col) == b_label).cast("long")
            ).alias("nb"),
            F.sum(
                ((F.col(group_col) == a_label) & suc).cast("long")
            ).alias("sa"),
            F.sum(
                ((F.col(group_col) == b_label) & suc).cast("long")
            ).alias("sb"),
        )
        .collect()[0]
    )
    na, nb = int(m["na"] or 0), int(m["nb"] or 0)
    sa, sb = int(m["sa"] or 0), int(m["sb"] or 0)
    if na == 0 or nb == 0:
        raise ValueError("two_proportion_ztest: empty side")
    p_a, p_b = sa / na, sb / nb
    pool = (sa + sb) / (na + nb)
    var = pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)
    if var <= 0.0:
        raise ValueError(
            "two_proportion_ztest: pooled rate is 0 or 1 — zero "
            "variance, z undefined"
        )
    z = (p_a - p_b) / math.sqrt(var)
    return df.sparkSession.createDataFrame(
        [(na, nb, sa, sb, p_a, p_b, z)],
        "n_a long, n_b long, s_a long, s_b long, "
        "p_a double, p_b double, z double",
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: float = 1e6,
    max_groups: int = 100_000,
) -> DataFrame:
    """One-way ANOVA: does ``value_col``'s mean differ across the
    levels of ``group_col``?  F = (SSB/(k-1)) / (SSW/(N-k)) — the
    k-sample generalization of ``welch_ttest`` (equal-variance
    model), the first question asked of any multi-arm experiment.

    Exactness: ONE groupBy scan reduces each group to exact
    fixed-point DECIMAL(38,0) moments (n_g, sum_g) plus one global
    (N, S, SSQ) aggregate; the only order-sensitive float reduction
    — sum over groups of s_g^2/n_g — is evaluated driver-side as a
    LEFT FOLD over the groups in ``group_col`` order (the
    kmeans/kaplan_meier collect-scalars pattern), which a DuckDB
    oracle replays with ``list_reduce(list(... ORDER BY g))`` —
    identical IEEE op sequence, never a parallel float sum. The
    group count is bounded (``max_groups`` guard, the kaplan_meier
    convention — enforced in the SAME pass via limit(max+1)). The
    global (N, S, SSQ) totals are DERIVED from the collected cells
    (exact integer/Decimal sums, order-free), so the whole statistic
    comes from ONE action over the source — a non-deterministic or
    recomputed source cannot make cells and totals disagree. NULL
    groups and NULL values are excluded (SQL aggregate semantics;
    also what `brown_forsythe`'s median join does, so the two
    agree). Returns ONE row: k, n, f_stat, ssb, ssw (original
    units)."""
    u = F.round(F.col(value_col) * scale).cast("decimal(38,0)")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    cell_df = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(u).alias("sg"),
        F.sum(u * u).alias("qg"),
    )
    cells = cell_df.limit(max_groups + 1).collect()
    if len(cells) > max_groups:
        raise ValueError(
            f"anova_oneway: more than max_groups={max_groups} groups"
        )
    if len(cells) < 2:
        raise ValueError("anova_oneway: needs >= 2 groups")
    cells.sort(key=lambda r: r[group_col])
    # totals from the cells themselves: sums of exact ints/Decimals
    # are order-independent, so this is bit-identical to a separate
    # global aggregate — without the second scan's consistency risk
    n = sum(int(r["ng"]) for r in cells)
    s = float(sum(int(r["sg"]) for r in cells))
    ssq = float(sum(int(r["qg"]) for r in cells))
    k = len(cells)
    if n <= k:
        raise ValueError("anova_oneway: no within-group dof (N <= k)")
    # left fold in group order: acc starts at the FIRST term, like
    # DuckDB list_reduce
    terms = [
        float(r["sg"]) * float(r["sg"]) / float(r["ng"]) for r in cells
    ]
    t = terms[0]
    for x in terms[1:]:
        t = t + x
    ssb = t - s * s / n
    ssw = ssq - t
    if ssw == 0.0:
        raise ValueError(
            "anova_oneway: zero within-group variance (every group "
            "is constant) — F is undefined"
        )
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    s2 = scale * scale
    return df.sparkSession.createDataFrame(
        [(k, n, f_stat, ssb / s2, ssw / s2)],
        "k long, n long, f_stat double, ssb double, ssw double",
    )


def pca(
    df: DataFrame,
    x_cols: "list[str]",
    scale: float = 1e6,
) -> DataFrame:
    """General-k principal component analysis: ONE scan reduces the
    k columns to exact fixed-point DECIMAL(38,0) Gram moments (the
    `_ridge_general` pattern — every centered-covariance input is an
    order-free integer sum), then the k×k sample-covariance
    eigendecomposition runs driver-side via ``numpy.linalg.eigh``
    (symmetric, deterministic per platform). The distributed work is
    k(k+1)/2 + k sums over one pass — no row sort, no iteration, no
    per-row Python.

    eigh is LAPACK, not a literal SQL expression tree, so the
    cross-engine certificate query stays the closed-form 2-column
    `pca2` (same moments, same covariance, k=2); this operator is
    the production path beyond it. Eigenvalues are clamped at 0 (the
    pca2 cancellation guard) and axes are sign-pinned: the largest-
    magnitude loading (first index on ties) is made positive —
    deterministic, basis-stable for simple eigenvalues.

    Returns k rows, largest component first: component (1-based),
    eigenvalue (original units), var_explained, and one loading
    column v_<col> per input column."""
    import numpy as np

    k = len(x_cols)
    if k < 2:
        raise ValueError("pca: needs >= 2 columns")

    def u(c):
        return F.round(F.col(c) * scale).cast("decimal(38,0)")

    cond = F.lit(True)
    for c in x_cols:
        cond = cond & F.col(c).isNotNull()
    exprs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i, c in enumerate(x_cols):
        exprs.append(F.sum(u(c)).alias(f"s{i}"))
    for i in range(k):
        for j in range(i, k):
            exprs.append(
                F.sum(u(x_cols[i]) * u(x_cols[j])).alias(f"s{i}_{j}")
            )
    m = df.filter(cond).agg(*exprs).collect()[0]
    n = int(m["n"])
    if n < 2:
        raise ValueError("pca: needs >= 2 complete rows")
    nf = float(n)
    mx = np.array([float(m[f"s{i}"]) / nf for i in range(k)])
    C = np.empty((k, k))
    for i in range(k):
        for j in range(i, k):
            C[i, j] = C[j, i] = (
                float(m[f"s{i}_{j}"]) - nf * mx[i] * mx[j]
            ) / (nf - 1.0)
    evals, evecs = np.linalg.eigh(C)
    order = np.argsort(evals)[::-1]
    evals = np.maximum(evals[order], 0.0)
    evecs = evecs[:, order]
    tot = float(evals.sum())
    if tot <= 0.0:
        raise ValueError("pca: degenerate (zero total variance)")
    # sign pin: largest-|loading| coordinate positive (first on ties)
    for j in range(k):
        pin = int(np.argmax(np.abs(evecs[:, j])))
        if evecs[pin, j] < 0.0:
            evecs[:, j] = -evecs[:, j]
    s2 = scale * scale
    rows = [
        (
            j + 1,
            float(evals[j]) / s2,
            float(evals[j]) / tot,
            *[float(v) for v in evecs[:, j]],
        )
        for j in range(k)
    ]
    names = ", ".join(f"v_{c} double" for c in x_cols)
    return df.sparkSession.createDataFrame(
        rows,
        f"component long, eigenvalue double, var_explained double, "
        f"{names}",
    )


def pca2(
    df: DataFrame,
    x_col: str,
    y_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """Two-column principal component analysis in closed form: the
    sample covariance eigendecomposition via the 2x2 characteristic
    quadratic — eigenvalues (tr ± sqrt((cxx-cyy)^2 + 4*cxy^2))/2,
    principal axis (cxy, l1 - cxx) normalized.  The dimensionality-
    reduction counterpart of `ridge2`/`mahalanobis_outliers`: same
    one-scan exact DECIMAL(38,0) moment reduction, then a purely
    closed-form scalar tail (sqrt/products only, no iteration, no
    LAPACK) that is ONE deterministic IEEE expression tree a SQL
    oracle mirrors literally — the same reason those operators'
    certificates are bit-portable.  Returns ONE row: n, lambda1 >=
    lambda2 (original units), var_explained = l1/(l1+l2), and the
    unit principal axis (v1x, v1y) with v1x >= 0 pinned for sign
    determinism (cxy = 0 falls back to the dominant coordinate
    axis)."""

    def u(c):
        return F.round(F.col(c) * scale).cast("decimal(38,0)")

    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    m = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(u(x_col)).alias("sx"),
        F.sum(u(y_col)).alias("sy"),
        F.sum(u(x_col) * u(x_col)).alias("sxx"),
        F.sum(u(x_col) * u(y_col)).alias("sxy"),
        F.sum(u(y_col) * u(y_col)).alias("syy"),
    ).collect()[0]
    n = int(m["n"])
    if n < 2:
        raise ValueError("pca2: needs >= 2 rows")
    nf = float(n)
    sx, sy = float(m["sx"]), float(m["sy"])
    sxx, sxy, syy = float(m["sxx"]), float(m["sxy"]), float(m["syy"])
    mx, my = sx / nf, sy / nf
    # sample covariance (/(n-1)) in scaled units
    cxx = (sxx - nf * mx * mx) / (nf - 1.0)
    cxy = (sxy - nf * mx * my) / (nf - 1.0)
    cyy = (syy - nf * my * my) / (nf - 1.0)
    d = cxx - cyy
    disc = math.sqrt(d * d + 4.0 * (cxy * cxy))
    l1 = (cxx + cyy + disc) / 2.0
    # float cancellation on near-degenerate data can push l2 a hair
    # below 0, which would emit var_explained > 1; covariance
    # eigenvalues are nonnegative by construction, so clamp
    l2 = max((cxx + cyy - disc) / 2.0, 0.0)
    if l1 + l2 <= 0.0:
        raise ValueError("pca2: degenerate (zero total variance)")
    if cxy == 0.0:
        v1x, v1y = (1.0, 0.0) if cxx >= cyy else (0.0, 1.0)
    else:
        ax, ay = cxy, l1 - cxx
        nrm = math.sqrt(ax * ax + ay * ay)
        v1x, v1y = ax / nrm, ay / nrm
        if v1x < 0.0:
            v1x, v1y = -v1x, -v1y
    s2 = scale * scale
    return df.sparkSession.createDataFrame(
        [(n, l1 / s2, l2 / s2, l1 / (l1 + l2), v1x, v1y)],
        "n long, lambda1 double, lambda2 double, "
        "var_explained double, v1x double, v1y double",
    )


def autocorr(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    lag: int = 1,
    scale: float = 1e6,
) -> DataFrame:
    """Per-key lag-``lag`` autocorrelation: the Pearson correlation
    between x_t and x_{t-lag} over each key's ``order_col``-ordered
    series — the serial-dependence diagnostic behind seasonality
    checks and residual whiteness tests.

    Plan: ONE partitioned window pass pairs each row with its
    lagged value (hash-partitioned by key — parallel across keys,
    never a global sort), then one groupBy reduces each key's pairs
    to exact fixed-point DECIMAL(38,0) Pearson moments; the final r
    is a deterministic IEEE expression tree per key. ``order_col``
    must be a TOTAL order per key — ENFORCED in-plan: the same
    aggregation counts rows vs distinct order values and any key
    with a duplicate raises (`_dup_order_guard`, the ewma/cusum
    convention) instead of silently pairing in an engine-dependent
    order. Returns one row per key with >= 2 pairs: key, n_pairs,
    r."""
    from pyspark.sql import Window as W

    if lag < 1:
        raise ValueError("autocorr: lag must be >= 1")
    u = F.round(F.col(value_col) * scale).cast("decimal(38,0)")
    w = W.partitionBy(key_col).orderBy("__o")
    lagged = (
        df.filter(
            F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(key_col, F.col(order_col).alias("__o"), u.alias("__x"))
        .withColumn("__xl", F.lag("__x", lag).over(w))
    )
    has = F.col("__xl").isNotNull()
    g = lagged.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("__o")).alias("_n_ord"),
        F.count("__xl").cast("long").alias("n_pairs"),
        F.sum(F.when(has, F.col("__x"))).alias("sx"),
        F.sum("__xl").alias("sy"),
        F.sum(F.when(has, F.col("__x") * F.col("__x"))).alias("sxx"),
        F.sum(F.col("__xl") * F.col("__xl")).alias("syy"),
        F.sum(F.col("__x") * F.col("__xl")).alias("sxy"),
    )
    nf = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = nf * sxy - sx * sy
    den = F.sqrt(nf * sxx - sx * sx) * F.sqrt(nf * syy - sy * sy)
    r = F.when(den > F.lit(0.0), num / den)
    return (
        g.filter(F.col("n_pairs") >= 2)
        .withColumn("r", _dup_order_guard("autocorr", key_col, r))
        .select(key_col, "n_pairs", "r")
    )


def cusum(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    max_series_len: int = MAX_SERIES_LEN,
) -> DataFrame:
    """Per-key one-sided CUSUM drift statistic: the final value of
    s_t = max(0, s_{t-1} + (x_t - target - slack)), s_0 = 0, over
    the key's ``order_col``-ordered series — the classic
    change-detection accumulator (a persistent upward shift of the
    mean grows s linearly; noise is absorbed by the slack).

    The recursion is order-sensitive BY DESIGN, so it runs as a
    left fold over the sorted value array (the `ewma` pattern):
    Spark ``F.aggregate`` with init 0.0 ≡ DuckDB
    ``list_reduce(list_prepend(0.0, list(...)))`` — the identical
    IEEE op sequence, bit-reproducible across engines. Duplicate
    ``order_col`` values within a key raise in-plan (same guard and
    reason as ``ewma``). One shuffle on the key. Returns one row
    per key: key, n, cusum."""
    if not 0.0 <= slack:
        raise ValueError("cusum: slack must be >= 0")
    per_key = _ordered_series(
        df, key_col, order_col, value_col, "cusum", max_series_len
    )
    vals = F.col("_xs").getField("v")
    adj = F.lit(float(target) + float(slack))
    folded = F.aggregate(
        vals,
        F.lit(0.0),
        lambda acc, x: F.greatest(F.lit(0.0), acc + (x - adj)),
    )
    guarded = _dup_order_guard("cusum", key_col, folded)
    return per_key.select(key_col, "n", guarded.alias("cusum"))


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: float = 1e6,
    max_groups: int = 100_000,
) -> DataFrame:
    """Brown-Forsythe test of equal variances (Levene with the
    MEDIAN center): one-way ANOVA on z = |x - median_g| — the
    robust pre-check before pooling variances (`anova_oneway`,
    `welch_ttest` choose models by its answer), median-centered so
    heavy tails don't masquerade as variance differences.

    Per-group medians are exact order statistics (``percentile``,
    the `mad_outliers` pattern — portable because both engines
    interpolate the same way, never a float sum), broadcast back;
    the ANOVA stage then reuses `anova_oneway`'s exact fixed-point
    moments + ordered driver fold. Returns ONE row: k, n, f_stat,
    ssb, ssw (z-units)."""
    med = df.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(group_col).alias("__g")
    ).agg(
        F.expr(f"percentile({quote_ident(value_col)}, 0.5)").alias(
            "__med"
        )
    )
    dev = (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(med), F.col(group_col) == F.col("__g"))
        .withColumn("__z", F.abs(F.col(value_col) - F.col("__med")))
    )
    return anova_oneway(
        dev, group_col, "__z", scale=scale, max_groups=max_groups
    )


def _isotonic_minimax(w: "list[int]", s: "list[int]") -> "list[float]":
    """The minimax evaluation of the isotonic fit over (weight,
    positives) bins: iso_i = max_{j<=i} min_{k>=i} windowed rate on
    exact integer prefix sums. Extracted so the PAV-equivalence can
    be property-tested directly on arbitrary bin profiles."""
    k = len(w)
    cw = [0]
    cs = [0]
    for i in range(k):
        cw.append(cw[-1] + w[i])
        cs.append(cs[-1] + s[i])
    iso = []
    for i in range(1, k + 1):
        best = None
        for j in range(1, i + 1):
            worst = None
            for kk in range(i, k + 1):
                r = (cs[kk] - cs[j - 1]) / (cw[kk] - cw[j - 1])
                if worst is None or r < worst:
                    worst = r
            if best is None or worst > best:
                best = worst
        iso.append(best)
    return iso


def isotonic_fit(
    df: DataFrame,
    order_by: "Sequence[str]",
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration over exact
    score bins — the step after `calibration` shows WHERE a score is
    miscalibrated: the least-squares monotone fit of the per-bin
    positive rate, i.e. what PAV (pool-adjacent-violators) computes.

    Engine-portable exactness without replaying PAV's data-dependent
    merge sequence: the fit is evaluated via the MINIMAX identity

        iso_i = max_{j<=i} min_{k>=i} (S_k - S_{j-1}) / (W_k - W_{j-1})

    on exact integer prefix sums of (count, positives) per bin —
    every candidate rate is ONE IEEE division of two exact integers
    and max/min are comparisons, so a SQL oracle evaluating the
    same O(n_bins^3) lattice produces bit-identical values (the
    closed-form-family trick applied to an algorithm usually stated
    iteratively). n_bins is small (deciles); the lattice is driver-
    side over n_bins cells, the heavy work is the distributed
    `exact_ntile` + one aggregation.

    ``label_col`` must be boolean-like; bins come from
    `rank.exact_ntile` under the TOTAL order ``order_by``. Returns
    one row per bin: tile, n, n_pos, raw_rate, iso_rate
    (nondecreasing in tile). ``order_by`` must be a TOTAL order —
    ENFORCED with a loud ValueError (the `_dup_order_guard`
    convention): a tied ordering makes `exact_ntile`'s boundary
    assignment nondeterministic and the certificate would diverge
    silently."""
    from hdfe_spark.operators.rank import exact_ntile

    chk = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(
            F.struct(*[F.col(c) for c in order_by])
        ).alias("d"),
    ).collect()[0]
    if int(chk["n"]) != int(chk["d"] or 0):
        raise ValueError(
            "isotonic_fit: order_by is not a total order (duplicate "
            "keys) — tile boundaries would be engine-dependent; add "
            "a unique tiebreaker column"
        )
    tiled = exact_ntile(df, order_by, n_bins, tile_col="__tile")
    pos = F.col(label_col).cast("boolean").cast("long")
    cells = (
        tiled.groupBy("__tile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.sum(pos).cast("long").alias("s"),
        )
        .collect()
    )
    cells.sort(key=lambda r: r["__tile"])
    w = [int(r["w"]) for r in cells]
    s = [int(r["s"] or 0) for r in cells]
    k = len(cells)
    iso = _isotonic_minimax(w, s)
    rows = [
        (
            int(cells[i]["__tile"]),
            w[i],
            s[i],
            s[i] / w[i],
            iso[i],
        )
        for i in range(k)
    ]
    return df.sparkSession.createDataFrame(
        rows,
        "tile long, n long, n_pos long, raw_rate double, "
        "iso_rate double",
    )


def gini(
    df: DataFrame,
    value_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """Exact Gini coefficient of a non-negative quantity — the
    concentration metric a curation pipeline points at token/byte
    mass ("do 1% of documents hold half the corpus?"), the
    continuous complement of `weighted_quantiles`' cutoffs.

        G = 2*S1 / (n*S) - (n+1)/n,   S1 = sum_i i*x_(i)

    over the ascending sort — but never BY sorting rows: ties make
    every within-block order equivalent (sum of ranks over a tie
    block is closed-form), so S1 reduces to the DISTINCT-value cell
    table with cumulative counts from the distributed prefix sum
    (`mann_whitney`'s path): a cell (v, c) at cumulative-before B
    contributes v*c*(2B + c + 1) to T = 2*S1 — kept doubled so the
    aggregation is PURE integer multiplication in DECIMAL(38,0)
    (a /2 would widen the decimal scale). Exact until the two final
    IEEE divisions — bit-portable. Negative values raise (Gini is
    undefined); zero total raises.

    Returns ONE row: n, gini."""
    from hdfe_spark.operators.rank import prefix_sum

    u = F.round(F.col(value_col) * scale).cast("decimal(38,0)")
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(u.alias("__u"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    cum = prefix_sum(cells, ["__u"], "__c", out_col="__cum")
    c = F.col("__c").cast("decimal(38,0)")
    b = (F.col("__cum") - F.col("__c")).cast("decimal(38,0)")
    uu = F.col("__u")
    # T = 2*S1: v*c*(2B + c + 1) per tie block — integer-only
    block2 = uu * c * (F.lit(2) * b + c + F.lit(1))
    m = cum.agg(
        F.min("__u").alias("umin"),
        F.sum(c).alias("n"),
        F.sum(uu * c).alias("s"),
        F.sum(block2).alias("t2"),
    ).collect()[0]
    if m["umin"] is None:
        raise ValueError("gini: empty input")
    if m["umin"] < 0:
        raise ValueError("gini: negative values — Gini is undefined")
    n = int(m["n"])
    s = int(m["s"])
    if s == 0:
        raise ValueError("gini: zero total — Gini is undefined")
    t2 = int(m["t2"])
    g = float(t2) / (float(n) * float(s)) - float(n + 1) / float(n)
    return df.sparkSession.createDataFrame(
        [(n, g)], "n long, gini double"
    )


def cross_corr(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    y_col: str,
    lag: int = 1,
    scale: float = 1e6,
) -> DataFrame:
    """Per-key lead-lag cross-correlation: Pearson r between x_t and
    y_{t-lag} over each key's ``order_col``-ordered series — "does a
    spike in y foreshadow x ``lag`` steps later?", the two-series
    generalization of `autocorr` (which is cross_corr of a series
    with itself). Same plan and exactness: one key-partitioned
    window pass, exact DECIMAL(38,0) Pearson moments, in-plan
    duplicate-order guard. Rows where either series is NULL are
    excluded BEFORE lagging (both series must share the order
    spine). Returns one row per key with >= 2 pairs: key, n_pairs,
    r."""
    from pyspark.sql import Window as W

    if lag < 1:
        raise ValueError("cross_corr: lag must be >= 1")
    ux = F.round(F.col(x_col) * scale).cast("decimal(38,0)")
    uy = F.round(F.col(y_col) * scale).cast("decimal(38,0)")
    w = W.partitionBy(key_col).orderBy("__o")
    lagged = (
        df.filter(
            F.col(order_col).isNotNull()
            & F.col(x_col).isNotNull()
            & F.col(y_col).isNotNull()
        )
        .select(
            key_col,
            F.col(order_col).alias("__o"),
            ux.alias("__x"),
            uy.alias("__y"),
        )
        .withColumn("__yl", F.lag("__y", lag).over(w))
    )
    has = F.col("__yl").isNotNull()
    g = lagged.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("__o")).alias("_n_ord"),
        F.count("__yl").cast("long").alias("n_pairs"),
        F.sum(F.when(has, F.col("__x"))).alias("sx"),
        F.sum("__yl").alias("sy"),
        F.sum(F.when(has, F.col("__x") * F.col("__x"))).alias("sxx"),
        F.sum(F.col("__yl") * F.col("__yl")).alias("syy"),
        F.sum(F.col("__x") * F.col("__yl")).alias("sxy"),
    )
    nf = F.col("n_pairs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = nf * sxy - sx * sy
    den = F.sqrt(nf * sxx - sx * sx) * F.sqrt(nf * syy - sy * sy)
    r = F.when(den > F.lit(0.0), num / den)
    return (
        g.filter(F.col("n_pairs") >= 2)
        .withColumn("r", _dup_order_guard("cross_corr", key_col, r))
        .select(key_col, "n_pairs", "r")
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information between two categorical columns, per-cell:
    one row per observed (a, b) cell with the joint count, both
    margins, and the cell's MI term (n_ab/N) * log2(N*n_ab /
    (n_a*n_b)) — the feature-relevance / redundancy measure behind
    MI-based feature selection, the information-theoretic sibling of
    `chi2_independence` (and the same plan: one contingency shuffle,
    two tiny margin re-aggregations joined back broadcast).

    The CALLER sums ``mi_term`` for the statistic; keeping cells
    separate means no output value depends on a float summation
    order (the chi2/benford convention). Each term is deterministic
    IEEE arithmetic on exact integer counts — except log2, which is
    not correctly rounded by every libm: a cross-engine oracle
    should compare the integer counts exactly and the terms at
    rounded precision. NULL categories are excluded (SQL join/agg
    semantics).

    Pre-built in round 7 for the round-8 registry (net-new query cap
    discipline)."""
    out = _contingency(df, col_a, col_b)
    nab = F.col("obs").cast("double")
    na = F.col("row_total").cast("double")
    nb = F.col("col_total").cast("double")
    nt = F.col("grand").cast("double")
    term = (nab / nt) * F.log2((nt * nab) / (na * nb))
    return out.select(
        col_a,
        col_b,
        F.col("obs").cast("long").alias("n_ab"),
        F.col("row_total").cast("long").alias("n_a"),
        F.col("col_total").cast("long").alias("n_b"),
        F.col("grand").cast("long").alias("n_tot"),
        term.alias("mi_term"),
    )


def best_split(
    df: DataFrame,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Exact best binary split of a numeric feature against a
    boolean label — the decision-stump / feature-quality primitive
    under tree learners and "is this signal worth a column?" audits:
    the threshold t maximizing weighted Gini impurity reduction for
    the partition (x <= t | x > t).

    Exactness without a row sort: candidate thresholds are the
    DISTINCT feature values with (count, positives) prefix sums from
    the distributed prefix sum (`gini`/`mann_whitney`'s path); for
    each candidate the parent/left/right impurities are rational
    functions of exact integers, compared via ONE IEEE expression
    per cell. The argmax breaks ties by the SMALLEST threshold (a
    total order any SQL oracle replays). Returns ONE row:
    n, threshold, gain, p_left, p_right (left = x <= threshold)."""
    from hdfe_spark.operators.rank import prefix_sum

    base = df.filter(
        F.col(feature_col).isNotNull() & F.col(label_col).isNotNull()
    )
    cells = base.groupBy(F.col(feature_col).alias("__v")).agg(
        F.count(F.lit(1)).cast("long").alias("__c"),
        F.sum(F.col(label_col).cast("boolean").cast("long"))
        .cast("long")
        .alias("__p"),
    )
    cum = prefix_sum(cells, ["__v"], "__c", out_col="__cc")
    cum = prefix_sum(cum, ["__v"], "__p", out_col="__cp")
    tot = cum.agg(
        F.sum("__c").cast("long").alias("n"),
        F.sum("__p").cast("long").alias("p"),
    ).collect()[0]
    n, p = int(tot["n"]), int(tot["p"] or 0)
    if n < 2:
        raise ValueError("best_split: needs >= 2 rows")
    nl = F.col("__cc").cast("double")
    pl = F.col("__cp").cast("double")
    nr = F.lit(float(n)) - nl
    pr = F.lit(float(p)) - pl
    # weighted Gini of the split: sum of 2*p_i*(1-p_i)*n_i/n per side
    gini_l = F.lit(2.0) * (pl / nl) * (F.lit(1.0) - pl / nl)
    gini_r = F.lit(2.0) * (pr / nr) * (F.lit(1.0) - pr / nr)
    child = (nl / F.lit(float(n))) * gini_l + (
        nr / F.lit(float(n))
    ) * gini_r
    parent = 2.0 * (p / n) * (1.0 - p / n)
    scored = cum.filter(F.col("__cc") < n).select(
        F.col("__v").alias("threshold"),
        (F.lit(parent) - child).alias("gain"),
        (pl / nl).alias("p_left"),
        (pr / nr).alias("p_right"),
    )
    best = scored.orderBy(
        F.col("gain").desc(), F.col("threshold").asc()
    ).limit(1)
    return best.select(
        F.lit(n).cast("long").alias("n"),
        "threshold", "gain", "p_left", "p_right",
    )


def tree_depth2(
    df: DataFrame,
    feature_col: str,
    label_col: str,
) -> DataFrame:
    """Greedy depth-2 CART on one numeric feature: the exact
    `best_split` stump at the root, then the exact best split of
    each resulting side — the smallest real decision TREE (three
    stumps stitched greedily), and the natural next step after
    `best_split` for "how much structure does this feature carry?"
    audits. Greedy is the CART contract, not an approximation of
    global optimality.

    All heavy work is the three `best_split` passes (distinct-value
    cells + distributed prefix sums — never a row sort; impurities
    are rational functions of exact integers); the only driver state
    is three 1-row results. A child whose rows all share one feature
    value (or has < 2 rows) has NO valid split and is simply absent
    from the output — the oracle's per-side LIMIT 1 over an empty
    candidate set reproduces the same absence.

    Returns up to 3 rows: (node in 'root'|'left'|'right', n,
    threshold, gain, p_left, p_right), where left/right fits cover
    x <= root-threshold and x > root-threshold respectively."""
    root_rows = best_split(df, feature_col, label_col).collect()
    if not root_rows:
        raise ValueError(
            "tree_depth2: the root has no valid split (constant "
            "feature)"
        )
    root = root_rows[0]
    t = root["threshold"]
    out = [("root",) + tuple(root)]
    for node, side in (
        ("left", F.col(feature_col) <= F.lit(t)),
        ("right", F.col(feature_col) > F.lit(t)),
    ):
        try:
            rows = best_split(df.filter(side), feature_col, label_col)
            rows = rows.collect()
        except ValueError:
            continue
        if rows:
            out.append((node,) + tuple(rows[0]))
    ftype = df.schema[feature_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        out,
        f"node string, n long, threshold {ftype}, gain double, "
        "p_left double, p_right double",
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    period: int,
    scale: float = 1e6,
) -> DataFrame:
    """Classical additive seasonal decomposition per key:
    value = trend + seasonal + residual, with the trend a CENTERED
    ``period``-point moving average and the seasonal component the
    per-phase mean of the detrended series (the moving-average
    variant of STL — the diagnostic behind "is this weekly pattern
    or drift?"). ``period`` must be ODD >= 3 (the centered window is
    symmetric); rows are phased by their 0-based position within the
    key's ``order_col`` order, so sampling must be regular — and
    that contract is ENFORCED, not prose: duplicate order values,
    NULL values, OR NULL order values raise a ValueError up front (a
    NULL value — or a silently dropped NULL-order row — would shift
    every later row's phase; a tie would phase rows
    nondeterministically). The check is DRIVER-side on one tiny
    aggregate — an in-plan guard column could be pruned away by a
    caller selecting other columns (a review pass demonstrated
    exactly that).

    Engine-portable exactness: the centered window sum is the
    cumulative-minus-offset identity over EXACT fixed-point integers
    (`rolling_beta`'s trick — never a float frame sum), trend is ONE
    IEEE division of exact integers, and the per-phase seasonal mean
    is evaluated as sum(u)/n - sum(S)/(period*n) on exact integer
    aggregates — never a float mean of detrended doubles, whose
    summation order would differ across engines. The windowed pass
    is localCheckpointed once (it feeds both the per-phase table and
    the output join — the materialize-once convention, measured 2.5x
    on dbscan_grid).

    Output: one row per FULL-WINDOW position (h rows at each key
    edge have no centered trend and are dropped): key, order, value,
    trend, seasonal, resid."""
    from pyspark.sql import Window as W

    if period < 3 or period % 2 == 0:
        raise ValueError(
            "seasonal_decompose: period must be odd and >= 3 "
            "(centered moving average)"
        )
    h = (period - 1) // 2
    ord_ok = F.col(order_col).isNotNull()
    chk = df.agg(
        F.count(F.when(ord_ok, F.lit(1))).alias("n"),
        F.count_distinct(
            F.when(ord_ok, F.struct(F.col(key_col), F.col(order_col)))
        ).alias("d"),
        F.sum(
            (ord_ok & F.col(value_col).isNull()).cast("long")
        ).alias("nv"),
        F.sum(F.col(order_col).isNull().cast("long")).alias("no"),
    ).collect()[0]
    if int(chk["no"] or 0) > 0:
        raise ValueError(
            "seasonal_decompose: NULL order values — dropping them "
            "would shift every later row's phase exactly like a NULL "
            "value would; repair the ordering column upstream"
        )
    if int(chk["n"] or 0) != int(chk["d"] or 0):
        raise ValueError(
            "seasonal_decompose: duplicate order values within a "
            "key — row-position phasing would be nondeterministic"
        )
    if int(chk["nv"] or 0) > 0:
        raise ValueError(
            "seasonal_decompose: NULL values in the series — they "
            "would shift every later row's phase; interpolate or "
            "drop-and-reindex upstream (resample.interpolate_gaps)"
        )
    base = df.filter(F.col(order_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__o"),
        F.col(value_col).alias("__val"),
        F.round(F.col(value_col) * scale)
        .cast("decimal(38,0)")
        .alias("__u"),
    )
    wc = (
        W.partitionBy("__k")
        .orderBy("__o")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wl = W.partitionBy("__k").orderBy("__o")
    cum = F.sum("__u").over(wc)
    s_t = F.lead(cum, h).over(wl) - F.coalesce(
        F.lag(cum, h + 1).over(wl), F.lit(0).cast("decimal(38,0)")
    )
    rn = F.row_number().over(wl) - 1
    # full window: h rows before (rn >= h) and h rows after (the
    # lead is non-NULL) — no separate count window needed
    win = (
        base.select(
            "__k", "__o", "__val", "__u",
            s_t.alias("__s"),
            rn.alias("__rn"),
        )
        .filter(F.col("__s").isNotNull() & (F.col("__rn") >= h))
        .withColumn("__phase", F.col("__rn") % period)
        .localCheckpoint(eager=True)
    )
    per_phase = win.groupBy("__k", "__phase").agg(
        F.count(F.lit(1)).cast("long").alias("__nj"),
        F.sum("__u").alias("__suj"),
        F.sum("__s").alias("__ssj"),
    )
    nj = F.col("__nj").cast("double")
    seasonal_j = (
        F.col("__suj").cast("double") / nj
        - F.col("__ssj").cast("double") / (F.lit(float(period)) * nj)
    )
    phase_tab = per_phase.select(
        "__k", "__phase", seasonal_j.alias("__seasonal")
    )
    joined = win.join(F.broadcast(phase_tab), ["__k", "__phase"])
    trend = F.col("__s").cast("double") / F.lit(float(period))
    detr = F.col("__u").cast("double") - trend
    resid = detr - F.col("__seasonal")
    return joined.select(
        F.col("__k").alias(key_col),
        F.col("__o").alias(order_col),
        F.col("__val").alias(value_col),
        (trend / F.lit(scale)).alias("trend"),
        (F.col("__seasonal") / F.lit(scale)).alias("seasonal"),
        (resid / F.lit(scale)).alias("resid"),
    )


def kaplan_meier_by(
    subjects: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    max_cells: int = 100_000,
) -> DataFrame:
    """Stratified Kaplan-Meier: one survival curve PER GROUP — the
    cohort-comparison form that is the reason KM exists ("does the
    treatment arm churn slower?"). Shares the bounded cell collect,
    the NULL-event loud failure, and the product-limit recurrence
    with the single-curve `kaplan_meier` (`_km_cells`/`_km_curve`);
    NULL groups are excluded (SQL semantics, the anova_oneway
    convention). ``group_col`` may not collide with the output
    columns (t, n_risk, d, c, s) — raises, rather than emitting an
    ambiguous schema. Returns (group, t, n_risk, d, c, s)."""
    if group_col in ("t", "n_risk", "d", "c", "s"):
        raise ValueError(
            f"kaplan_meier_by: group_col {group_col!r} collides "
            "with an output column — alias it first"
        )
    _km_duration_guard(subjects, duration_col, "kaplan_meier_by")
    cells = _km_cells(
        subjects.filter(F.col(group_col).isNotNull()),
        duration_col, event_col, [group_col], max_cells,
        "kaplan_meier_by",
    )
    by_group: dict = {}
    for r in cells:
        by_group.setdefault(r[group_col], []).append(r)
    rows = []
    for g, cs in sorted(by_group.items(), key=lambda kv: kv[0]):
        cs.sort(key=lambda r: r[duration_col])
        for r, (n_risk, d, c, sv) in zip(cs, _km_curve(cs)):
            rows.append((g, r[duration_col], n_risk, d, c, sv))
    from pyspark.sql import types as T

    gfield = subjects.schema[group_col]
    schema = T.StructType(
        [
            T.StructField(group_col, gfield.dataType),
            T.StructField("t", T.LongType()),
            T.StructField("n_risk", T.LongType()),
            T.StructField("d", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )
    return subjects.sparkSession.createDataFrame(rows, schema)


def changepoint(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """Exact single mean-shift changepoint per key: the split of the
    ``order_col``-ordered series minimizing SSE_left + SSE_right —
    `best_split`'s time-axis sibling (binary segmentation's first
    step, the "did this metric shift and when?" primitive behind
    drift triage).

    Plan (100 TB shape): ONE window pass per key (hash-partitioned —
    parallel across keys, never a global sort) builds cumulative
    exact fixed-point moments (n_l, Σu, Σu²) plus the key totals on
    the SAME exchange; every candidate's cost is then a per-row IEEE
    expression of exact DECIMAL(38,0) integers, and the per-key
    argmin is ONE lexicographic struct-min aggregation — (cost,
    order) ascending, so ties break on the EARLIEST split, a total
    order any SQL oracle replays with row_number() OVER (ORDER BY
    cost, o). No float is ever summed across rows; divisions happen
    once per candidate in a deterministic expression tree (the
    best_split convention, so bit-identical argmin ordering on any
    IEEE engine). Duplicate order values within a key raise — the
    check is DRIVER-side on one tiny aggregate over ALL rows (the
    seasonal_decompose convention: an in-plan guard column is
    prunable by a caller selecting other columns, and a duplicate
    involving only the excluded last row would still make the
    boundary cumulative sums engine-dependent). NULL order/value
    rows are excluded.

    Returns one row per key with >= 2 points: key, n, split_order
    (last point of the left segment), n_left, n_right, sse_total,
    sse_split, gain (all SSEs in original units)."""
    from pyspark.sql import Window as W

    u = F.round(F.col(value_col) * scale).cast("decimal(38,0)")
    base = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(order_col).alias("__o"),
        u.alias("__u"),
    )
    chk = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct("__k", "__o")).alias("d"),
    ).collect()[0]
    if int(chk["n"] or 0) != int(chk["d"] or 0):
        raise ValueError(
            "changepoint: duplicate order values within a key — the "
            "cumulative sums (and thus every candidate cost) would "
            "be engine-dependent"
        )
    wc = (
        W.partitionBy("__k")
        .orderBy("__o")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wg = W.partitionBy("__k")
    cum = base.select(
        "__k",
        "__o",
        "__u",
        F.count(F.lit(1)).over(wc).alias("__nl"),
        F.sum("__u").over(wc).alias("__sl"),
        F.sum(F.col("__u") * F.col("__u")).over(wc).alias("__ql"),
        F.count(F.lit(1)).over(wg).alias("__n"),
        F.sum("__u").over(wg).alias("__s"),
        F.sum(F.col("__u") * F.col("__u")).over(wg).alias("__q"),
    )
    nl = F.col("__nl").cast("double")
    sl = F.col("__sl").cast("double")
    ql = F.col("__ql").cast("double")
    nn = F.col("__n").cast("double")
    ss = F.col("__s").cast("double")
    qq = F.col("__q").cast("double")
    nr = nn - nl
    sr = ss - sl
    cost = (ql - (sl * sl) / nl) + ((qq - ql) - (sr * sr) / nr)
    cand = cum.filter(F.col("__nl") < F.col("__n")).select(
        "__k",
        F.struct(
            cost.alias("cost"),
            F.col("__o").alias("o"),
            F.col("__nl").alias("nl"),
        ).alias("__cand"),
    )
    g = cand.groupBy("__k").agg(F.min("__cand").alias("__best"))
    # totals re-derived exactly (order-free integer sums)
    tot = base.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__u").alias("__ts"),
        F.sum(F.col("__u") * F.col("__u")).alias("__tq"),
    )
    j = g.join(tot, "__k")
    tn = F.col("n").cast("double")
    tsd = F.col("__ts").cast("double")
    tqd = F.col("__tq").cast("double")
    cost0 = tqd - (tsd * tsd) / tn
    best_cost = F.col("__best").getField("cost")
    s2 = F.lit(scale * scale)
    return j.select(
        F.col("__k").alias(key_col),
        F.col("n"),
        F.col("__best").getField("o").alias("split_order"),
        F.col("__best").getField("nl").alias("n_left"),
        (F.col("n") - F.col("__best").getField("nl")).alias("n_right"),
        (cost0 / s2).alias("sse_total"),
        (best_cost / s2).alias("sse_split"),
        ((cost0 - best_cost) / s2).alias("gain"),
    )


def _check_integral_y(fn: str, df: DataFrame, y_col: str, kind: str) -> None:
    """Shared quantized-Newton guard: the outcome must be integral/
    boolean (float y would make the gradient's exactness a rounding
    decision). Used by logistic2 / poisson2 / logistic2_by."""
    ytype = df.schema[y_col].dataType
    if isinstance(ytype, (T.FloatType, T.DoubleType)) or (
        isinstance(ytype, T.DecimalType) and ytype.scale > 0
    ):
        raise ValueError(
            f"{fn}: y_col {y_col!r} is {ytype.simpleString()}; {kind}"
        )


def _newton_aggs(wq, gq, xu, yl, stat_name: str) -> list:
    """The five quantized Newton moments + row count + outcome total
    shared verbatim by logistic2 / poisson2 / logistic2_by — one
    definition so an overflow/guard fix lands in all three."""
    return [
        F.sum(wq).alias("sw"),
        F.sum(wq * xu).alias("swx"),
        F.sum(wq * xu * xu).alias("swxx"),
        F.sum(gq).alias("sg"),
        F.sum(gq * xu).alias("sgx"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(yl).cast("long").alias(stat_name),
    ]


def _newton_solve2x2(m, fn: str, singular_ctx: str) -> "tuple[float, float]":
    """Driver-side 2x2 Newton solve on one row of collected moments.
    The float expressions are spelled EXACTLY as the SQL oracles
    spell them (swxx*sg - swx*sgx etc.) — do not reorder."""
    sw, swx, swxx = float(m["sw"]), float(m["swx"]), float(m["swxx"])
    sg, sgx = float(m["sg"]), float(m["sgx"])
    det = sw * swxx - swx * swx
    if det == 0.0:
        raise ValueError(f"{fn}: singular normal matrix {singular_ctx}")
    return (
        (swxx * sg - swx * sgx) / det,
        (sw * sgx - swx * sg) / det,
    )


def logistic2(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_iter: int = 2,
    scale: float = 1e6,
    wbits: int = 16,
) -> DataFrame:
    """Logistic regression of a binary outcome on (1, x) via
    ``n_iter`` Newton-Raphson sweeps — the classification sibling of
    `huber_irls2` and the missing classic next to the engine's OLS
    family (a propensity / quality-classifier fit over corpus
    features is the first model a curation pipeline trains).

    Iteration t: p_i = sigmoid(b0 + b1*x_i), Newton step
    delta = (X'WX)^-1 X'(y - p) with W = diag(p_i(1-p_i)).
    Engine-exact in a distributed setting because the per-row weight
    and gradient are QUANTIZED to ``wbits`` fractional bits
    (floor(p(1-p) * 2^wbits), floor((y-p) * 2^wbits + 0.5)): the
    Newton moments are then integer products summed as
    DECIMAL(38,0) — order-free — while raw double weights would make
    every moment a partition-order-dependent float sum. The 2^wbits
    factor cancels inside the solve. The one cross-engine hazard is
    sigmoid's exp() landing EXACTLY on a floor boundary after a
    last-ulp libm difference; at 16 fractional bits the boundary
    density is 2^-37 per ulp — negligible, and COARSER quantization
    is SAFER (the certificate's margin grows as wbits shrinks).

    Init is beta = (0, 0), where p = 1/2 and both quantizations are
    exact integers on any engine — iteration 1's moments are exact.
    Each sweep is ONE aggregation scan (map-side partials, a 1-row
    collect); a SQL oracle unrolls sweeps as CTE layers (the
    `robust_ols`/`kmeans` certificate pattern). Fixed ``n_iter``
    also bounds divergence under complete separation — and a
    separated fit drives p to 0/1, zeroing the weights: the solve
    then raises on the singular normal matrix instead of silently
    emitting garbage.

    ``y_col`` must be an integral/boolean column with values in
    {0, 1} (a float outcome would make "binary" a rounding decision;
    the guard rides the first moment scan — no extra pass).

    Returns one row: n, n_pos, b0, b1 (log-odds intercept/slope in
    original x units).
    """
    if n_iter < 1:
        raise ValueError("logistic2: n_iter >= 1")
    _check_integral_y(
        "logistic2",
        df,
        y_col,
        "a binary outcome must be integral/boolean (threshold "
        "upstream)",
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.round(F.col(x_col) * scale).cast("decimal(38,0)").alias("__xu"),
        F.col(y_col).cast("long").alias("__yl"),
    )
    W = float(1 << wbits)
    xu, xd = F.col("__xu"), F.col("__xu").cast("double")
    yl = F.col("__yl")

    def sweep(b0: float, b1p: float, first: bool):
        t = F.lit(b0) + F.lit(b1p) * xd
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-t))
        wq = F.floor(p * (F.lit(1.0) - p) * F.lit(W)).cast("decimal(38,0)")
        gq = F.floor(
            (yl.cast("double") - p) * F.lit(W) + F.lit(0.5)
        ).cast("decimal(38,0)")
        aggs = _newton_aggs(wq, gq, xu, yl, "n_pos")
        if first:
            aggs += [F.min(yl).alias("ymin"), F.max(yl).alias("ymax")]
        m = base.agg(*aggs).collect()[0]
        if int(m["n"]) == 0:
            raise ValueError("logistic2: no rows with non-null x and y")
        if first and (int(m["ymin"]) < 0 or int(m["ymax"]) > 1):
            raise ValueError(
                f"logistic2: y_col {y_col!r} has values outside "
                "{0, 1}"
            )
        d0, d1 = _newton_solve2x2(
            m,
            "logistic2",
            "(constant x over the weighted sample, or weights "
            "collapsed to zero under complete separation)",
        )
        return (b0 + d0, b1p + d1, int(m["n"]), int(m["n_pos"]))

    b0, b1p = 0.0, 0.0
    n = n_pos = 0
    for it in range(n_iter):
        b0, b1p, n, n_pos = sweep(b0, b1p, it == 0)
    return df.sparkSession.createDataFrame(
        [(n, n_pos, b0, b1p * scale)],
        "n long, n_pos long, b0 double, b1 double",
    )


def poisson2(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_iter: int = 2,
    scale: float = 1e6,
    wbits: int = 16,
) -> DataFrame:
    """Poisson regression of a count outcome on (1, x) with log link
    via ``n_iter`` Newton-Raphson sweeps — `logistic2`'s sibling for
    COUNT outcomes (events per user, defects per shard, tokens per
    document: the canonical rate model next to the engine's OLS and
    logistic family).

    Iteration t: mu_i = exp(b0 + b1*x_i), Newton step
    delta = (X'WX)^-1 X'(y - mu) with W = diag(mu_i) — identical
    shape to `logistic2` with p(1-p) -> mu and (y-p) -> (y-mu), and
    the same engine-exactness argument: per-row weight/gradient are
    QUANTIZED to ``wbits`` fractional bits (floor(mu * 2^wbits),
    floor((y-mu) * 2^wbits + 0.5)) so the Newton moments are
    order-free DECIMAL(38,0) integer sums; the 2^wbits factor
    cancels in the solve; exp() landing exactly on a floor boundary
    after a last-ulp libm difference has density ~2^-37 per ulp.

    Init is beta = (0, 0), where mu = 1 exactly: the first sweep's
    weight is the integer 2^wbits and the gradient (y-1)*2^wbits is
    exact for integral y — iteration 1's moments are exact on any
    engine (the `logistic2` init argument). Fixed ``n_iter`` sweeps,
    one aggregation scan each; a SQL oracle unrolls sweeps as CTE
    layers. Overdispersed or exploding fits stay bounded by the
    fixed iteration count; a weight overflowing the quantization
    (mu * 2^wbits beyond DECIMAL(38,0)) fails the cast LOUDLY under
    ANSI mode rather than silently truncating.

    ``y_col`` must be integral/boolean with values >= 0 (a float
    count would make the gradient's exactness a rounding decision) —
    guarded on the first moment scan.

    Returns one row: n, sum_y, b0, b1 (log-rate intercept/slope in
    original x units).
    """
    if n_iter < 1:
        raise ValueError("poisson2: n_iter >= 1")
    _check_integral_y(
        "poisson2",
        df,
        y_col,
        "a count outcome must be integral (round upstream)",
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.round(F.col(x_col) * scale).cast("decimal(38,0)").alias("__xu"),
        F.col(y_col).cast("long").alias("__yl"),
    )
    W = float(1 << wbits)
    xu, xd = F.col("__xu"), F.col("__xu").cast("double")
    yl = F.col("__yl")

    def sweep(b0: float, b1p: float, first: bool):
        mu = F.exp(F.lit(b0) + F.lit(b1p) * xd)
        wq = F.floor(mu * F.lit(W)).cast("decimal(38,0)")
        gq = F.floor(
            (yl.cast("double") - mu) * F.lit(W) + F.lit(0.5)
        ).cast("decimal(38,0)")
        aggs = _newton_aggs(wq, gq, xu, yl, "sum_y")
        if first:
            aggs += [F.min(yl).alias("ymin")]
        m = base.agg(*aggs).collect()[0]
        if int(m["n"]) == 0:
            raise ValueError("poisson2: no rows with non-null x and y")
        if first and int(m["ymin"]) < 0:
            raise ValueError(
                f"poisson2: y_col {y_col!r} has negative values — "
                "not a count"
            )
        d0, d1 = _newton_solve2x2(
            m, "poisson2", "(constant x over the weighted sample)"
        )
        return (b0 + d0, b1p + d1, int(m["n"]), int(m["sum_y"]))

    b0, b1p = 0.0, 0.0
    n = sum_y = 0
    for it in range(n_iter):
        b0, b1p, n, sum_y = sweep(b0, b1p, it == 0)
    return df.sparkSession.createDataFrame(
        [(n, sum_y, b0, b1p * scale)],
        "n long, sum_y long, b0 double, b1 double",
    )


def logistic2_by(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    n_iter: int = 2,
    scale: float = 1e6,
    wbits: int = 16,
    max_groups: int = 10_000,
) -> DataFrame:
    """Per-GROUP logistic regression: `logistic2`'s stratified form —
    one independent (1, x) Newton fit per group, the "many small
    models" shape of a curation pipeline (a quality/propensity
    classifier per language, per source, per shard) fitted in
    ``n_iter`` scans TOTAL, not per group.

    Per sweep: ONE groupBy aggregation collects every group's
    quantized Newton moments (the `logistic2` quantization — weights
    and gradients floored to ``wbits`` fractional bits, so the sums
    are order-free DECIMAL(38,0) integers), the driver solves each
    group's 2x2, and the new betas re-enter the plan as a BROADCAST
    join on the group key (the betas are driver-known floats, so the
    per-row sigmoid is a deterministic IEEE expression on any
    engine). The collect is bounded by ``max_groups`` (guarded on
    the first sweep, the anova_oneway convention).

    Loud failure: a group with singular normal equations (constant
    x, or weights collapsed under complete separation) raises and
    NAMES the group — filter such groups upstream; emitting NULL
    betas would let a broken stratum ride silently into a scoring
    join. ``y_col`` must be integral/boolean with values in {0, 1}
    across ALL groups (one global guard in the first sweep).

    Returns one row per group: group, n, n_pos, b0, b1.
    """
    if n_iter < 1:
        raise ValueError("logistic2_by: n_iter >= 1")
    _check_integral_y(
        "logistic2_by",
        df,
        y_col,
        "a binary outcome must be integral/boolean",
    )
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.round(F.col(x_col) * scale).cast("decimal(38,0)").alias("__xu"),
        F.col(y_col).cast("long").alias("__yl"),
    )
    W = float(1 << wbits)
    xu, xd = F.col("__xu"), F.col("__xu").cast("double")
    yl = F.col("__yl")
    spark = df.sparkSession

    betas: "dict | None" = None  # group -> (b0, b1p)

    def sweep(first: bool):
        if first:
            t = F.lit(0.0)
        else:
            t = F.col("__b0") + F.col("__b1p") * xd
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-t))
        wq = F.floor(p * (F.lit(1.0) - p) * F.lit(W)).cast("decimal(38,0)")
        gq = F.floor(
            (yl.cast("double") - p) * F.lit(W) + F.lit(0.5)
        ).cast("decimal(38,0)")
        src = base
        if not first:
            bt = spark.createDataFrame(
                [(g, b0, b1p) for g, (b0, b1p) in betas.items()],
                df.select(F.col(group_col).alias("__g")).schema.add(
                    "__b0", "double"
                ).add("__b1p", "double"),
            )
            src = base.join(F.broadcast(bt), "__g")
        aggs = _newton_aggs(wq, gq, xu, yl, "n_pos")
        if first:
            aggs += [F.min(yl).alias("ymin"), F.max(yl).alias("ymax")]
        rows = (
            src.groupBy("__g").agg(*aggs).limit(max_groups + 1).collect()
        )
        if first:
            if len(rows) > max_groups:
                raise ValueError(
                    f"logistic2_by: more than {max_groups} groups — "
                    "raise max_groups or pre-aggregate"
                )
            if not rows:
                raise ValueError(
                    "logistic2_by: no rows with non-null group, x, y"
                )
            for m in rows:
                if int(m["ymin"]) < 0 or int(m["ymax"]) > 1:
                    raise ValueError(
                        f"logistic2_by: y_col {y_col!r} has values "
                        "outside {0, 1} in group "
                        f"{m['__g']!r}"
                    )
        out = {}
        stats = {}
        for m in rows:
            d0, d1 = _newton_solve2x2(
                m,
                "logistic2_by",
                f"in group {m['__g']!r} (constant x or collapsed "
                "weights)",
            )
            b0p, b1pp = (0.0, 0.0) if first else betas[m["__g"]]
            out[m["__g"]] = (b0p + d0, b1pp + d1)
            stats[m["__g"]] = (int(m["n"]), int(m["n_pos"]))
        return out, stats

    stats: dict = {}
    for it in range(n_iter):
        betas, stats = sweep(it == 0)
    gtype = df.schema[group_col].dataType.simpleString()
    return spark.createDataFrame(
        [
            (g, stats[g][0], stats[g][1], b0, b1p * scale)
            for g, (b0, b1p) in betas.items()
        ],
        f"{group_col} {gtype}, n long, n_pos long, b0 double, b1 double",
    )


def cuped(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al.,
    WSDM 2013, public): per-variant means of the metric y adjusted
    by the pre-experiment covariate x,

        theta      = cov(x, y) / var(x)          (POOLED, all rows)
        mean_cuped = mean_v(y) - theta * (mean_v(x) - mean(x))

    — the standard A/B variance-reduction estimator (the covariate
    is pre-treatment, so its expectation is equal across variants
    and the adjustment is unbiased while soaking up the x-correlated
    noise in y).

    Exactness (the `welch_ttest` convention): x and y are quantized
    to integers once (round(v * scale) as DECIMAL(38,0)), ALL
    distributed sums are exact integer moments (order-free on any
    engine), and theta / the adjusted means are a handful of IEEE
    ops on those exact integers — the oracle writes the identical
    expression tree. NULL metric/covariate rows are excluded;
    a NULL variant is itself a group (the `hll_by` convention).

    Returns one row per variant: (variant, n, mean, mean_cuped,
    theta). Scale: one global-moment aggregation (5 scalars) + one
    variant-keyed aggregation — two narrow scans, map-side combined;
    nothing wider than the variant count ever shuffles.
    """
    y = F.col(metric_col)
    x = F.col(covariate_col)
    base = df.filter(y.isNotNull() & x.isNotNull()).select(
        F.col(variant_col).alias("__v"),
        F.round(y * F.lit(scale)).cast("decimal(38,0)").alias("__yq"),
        F.round(x * F.lit(scale)).cast("decimal(38,0)").alias("__xq"),
    )
    g = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__xq").alias("sx"),
        F.sum("__yq").alias("sy"),
        F.sum(F.col("__xq") * F.col("__xq")).alias("sxx"),
        F.sum(F.col("__xq") * F.col("__yq")).alias("sxy"),
    ).collect()[0]
    n = int(g["n"])
    if n < 2:
        raise ValueError("cuped: needs >= 2 non-null rows")
    sx, sy = int(g["sx"]), int(g["sy"])
    sxx, sxy = int(g["sxx"]), int(g["sxy"])
    var_num = n * sxx - sx * sx  # exact ints (python bigint)
    if var_num == 0:
        raise ValueError(
            "cuped: covariate has zero variance — nothing to adjust by"
        )
    # ONE division of two exact integers; both engines round the
    # bigint->double conversions identically (IEEE nearest)
    theta = float(n * sxy - sx * sy) / float(var_num)
    mean_x = float(sx) / float(n)  # quantized units
    per = base.groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__yq").alias("__syv"),
        F.sum("__xq").alias("__sxv"),
    )
    inv = F.lit(1.0 / scale)
    mean_y_v = F.col("__syv").cast("double") / F.col("n").cast("double")
    mean_x_v = F.col("__sxv").cast("double") / F.col("n").cast("double")
    return per.select(
        F.col("__v").alias(variant_col),
        "n",
        (mean_y_v * inv).alias("mean"),
        (
            (mean_y_v - F.lit(theta) * (mean_x_v - F.lit(mean_x))) * inv
        ).alias("mean_cuped"),
        F.lit(theta).alias("theta"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_groups: int = 100_000,
) -> DataFrame:
    """Kruskal-Wallis H test — `anova_oneway`'s rank-based sibling
    (does the DISTRIBUTION of ``value_col`` differ across groups?),
    with average-tie ranks and the standard tie correction.

    Exactness (the `mann_whitney_u` half-unit trick, per group):
    for a pooled distinct value with total count c and cum-before
    count B, every average rank is (2B + c + 1)/2, so the DOUBLED
    per-group rank sums 2*R_g = sum(c_g * (2B + c + 1)) ride as
    exact DECIMAL(38,0) integers; the tie term sum(c^3 - c) is
    integral too. The only order-sensitive float reduction — the
    sum over groups of R_g^2/n_g — is a driver-side LEFT FOLD in
    group order (the `anova_oneway` collect-scalars pattern, group
    count bounded by ``max_groups``), which the oracle replays with
    ``list_reduce(list(... ORDER BY g))``. H and the tie-corrected
    H_adj are then a handful of IEEE ops on exact scalars.

    NULL groups/values are excluded. Raises when every pooled value
    is tied (the correction denominator is 0 — H is undefined).
    Plan: one (value, group) aggregation, one value-level rollup +
    two distributed prefix sums, one AQE-planned join back, one
    group-level aggregation bounded by ``max_groups`` — never a
    global row sort (ranks come from counts, not sorting). Returns
    ONE row: k, n, tie_term, h, h_adj.
    """
    from hdfe_spark.operators.rank import prefix_sum

    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    )
    vg = base.groupBy("__v", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("__cg")
    )
    v = vg.groupBy("__v").agg(F.sum("__cg").cast("long").alias("__c"))
    v = prefix_sum(v, ["__v"], "__c", out_col="__cumc")
    tie = v.agg(
        F.sum(
            F.col("__c").cast("decimal(38,0)")
            * F.col("__c")
            * F.col("__c")
            - F.col("__c")
        ).alias("ties"),
    ).collect()[0]
    ties = int(tie["ties"] or 0)
    b2 = (
        F.lit(2).cast("decimal(38,0)")
        * (F.col("__cumc") - F.col("__c"))
        + F.col("__c")
        + F.lit(1)
    )
    groups = (
        vg.join(v, "__v")
        .groupBy("__g")
        .agg(
            F.sum("__cg").cast("long").alias("ng"),
            F.sum(F.col("__cg").cast("decimal(38,0)") * b2).alias(
                "r2g"
            ),
        )
    )
    cells = groups.limit(max_groups + 1).collect()
    if len(cells) > max_groups:
        raise ValueError(
            f"kruskal_wallis: more than max_groups={max_groups} groups"
        )
    if len(cells) < 2:
        raise ValueError("kruskal_wallis: needs >= 2 groups")
    cells.sort(key=lambda r: r["__g"])
    n = sum(int(r["ng"]) for r in cells)
    k = len(cells)
    denom_t = n * n * n - n
    if ties >= denom_t:
        raise ValueError(
            "kruskal_wallis: all pooled values tied — H is undefined"
        )
    # left fold in group order (acc = first term, the anova/DuckDB
    # list_reduce convention); R_g^2/n_g = (2R_g)^2 / (4 n_g)
    terms = [
        float(r["r2g"]) * float(r["r2g"]) / (4.0 * float(r["ng"]))
        for r in cells
    ]
    t = terms[0]
    for x in terms[1:]:
        t = t + x
    h = (12.0 * t) / float(n * (n + 1)) - 3.0 * float(n + 1)
    corr = 1.0 - float(ties) / float(denom_t)
    h_adj = h / corr
    return df.sparkSession.createDataFrame(
        [(k, n, float(ties), h, h_adj)],
        "k long, n long, tie_term double, h double, h_adj double",
    )


def auc_by(
    df: DataFrame,
    group_col: str,
    label_col: str,
    score_col: str,
    max_cells_per_group: int = 8_000_000,
) -> DataFrame:
    """Per-group exact ROC AUC — `auc_score` stratified (the
    per-query retrieval/ranking eval): within every group, AUC via
    the rank-sum identity with average-tie ranks,

        auc = (2*R_pos - n_pos*(n_pos+1)) / (2 * n_pos * n_neg)

    where 2*R_pos rides as an exact DECIMAL(38,0) integer (the
    `mann_whitney_u` half-unit trick evaluated with GROUP-
    PARTITIONED window prefix sums instead of the global
    distributed prefix sum — parallel across groups, never a global
    sort), so the whole statistic is ONE division of exact integers
    per group: fully distributed, no driver collect, and a SQL
    oracle spells it verbatim.

    NULL labels/scores are excluded; a NULL group is itself a group
    (the `hll_by` convention). Groups with no positives or no
    negatives return NULL auc (undefined, never a crash). Returns
    one row per group: (group, n_pos, n_neg, auc).

    LABEL CONVENTION: labels follow `auc_score`'s BOOLEAN coercion —
    any nonzero value is positive, zero is negative (ROC-AUC is
    well-defined for any positive/negative split, unlike the
    probability-comparing metrics) — deliberately unlike
    `confusion_stats`/`brier_score`/`mcnemar_test`, whose `_bin01`
    guard raises on labels outside {0, 1} because their algebra
    needs literal 0/1 values.
    """
    no_output_collision(
        "auc_by", "group_col", group_col, ("n_pos", "n_neg", "auc")
    )
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(score_col).alias("__v"),
        F.col(label_col).cast("boolean").cast("long").alias("__y"),
    )
    cells = base.groupBy("__g", "__v").agg(
        F.sum("__y").cast("long").alias("__cp"),
        F.sum(F.lit(1) - F.col("__y")).cast("long").alias("__cn"),
    )
    cells = _max_cells_guard(
        cells, "auc_by", max_cells_per_group, "__cp"
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "__g", "__cp", "__cn",
        F.sum("__cp").over(w).alias("__cump"),
        F.sum("__cn").over(w).alias("__cumn"),
    )
    c = (F.col("__cp") + F.col("__cn")).cast("decimal(38,0)")
    before = (
        F.col("__cump") + F.col("__cumn")
        - F.col("__cp") - F.col("__cn")
    ).cast("decimal(38,0)")
    r2term = F.col("__cp").cast("decimal(38,0)") * (
        F.lit(2).cast("decimal(38,0)") * before + c + F.lit(1)
    )
    g = cum.groupBy("__g").agg(
        F.sum("__cp").cast("long").alias("n_pos"),
        F.sum("__cn").cast("long").alias("n_neg"),
        F.sum(r2term).alias("__ra2"),
    )
    npos = F.col("n_pos").cast("decimal(38,0)")
    u2 = F.col("__ra2") - npos * (F.col("n_pos") + F.lit(1))
    den = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("n_pos")
        * F.col("n_neg")
    )
    return g.select(
        F.col("__g").alias(group_col),
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u2.cast("double") / den.cast("double"),
        ).alias("auc"),
    )


def spearman_by(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    max_cells_per_group: int = 8_000_000,
) -> DataFrame:
    """Per-group Spearman rank correlation — `spearman_corr`
    stratified (monotone-association per segment/query/source), with
    the same average-tie exactness: each column's within-group ranks
    come from (group, value) cell counts + a GROUP-PARTITIONED
    window cumulative (parallel across groups, never a global sort),
    doubled so 2*rank = 2B + c + 1 stays integral; the six rank
    moments are exact DECIMAL(38,0) sums per group, and rho is one
    fixed IEEE expression on their double casts that a SQL oracle
    spells verbatim.

    NULL x/y rows are excluded; a NULL group is itself a group (the
    `hll_by` convention). Groups where either column is constant
    (zero rank variance) return NULL rho. Returns one row per
    group: (group, n, rho).
    """
    no_output_collision(
        "spearman_by", "group_col", group_col, ("n", "rho")
    )
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
    )

    def rank_table(col, rcol, gname, vname):
        # keys RENAMED (__gx/__xv): the rank table derives from
        # `base`, so joining back by the original names would hit
        # the self-join attribute ambiguity
        cells = base.groupBy("__g", col).agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        cells = _max_cells_guard(
            cells, "spearman_by", max_cells_per_group, "__c"
        )
        w = (
            Window.partitionBy("__g")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return cells.select(
            F.col("__g").alias(gname),
            F.col(col).alias(vname),
            (
                F.lit(2)
                * (F.sum("__c").over(w) - F.col("__c"))
                + F.col("__c")
                + F.lit(1)
            ).cast("decimal(38,0)").alias(rcol),
        )

    rx = rank_table("__x", "__r2x", "__gx", "__xv")
    ry = rank_table("__y", "__r2y", "__gy", "__yv")
    # NULL-SAFE group key: a bare ["__g", ...] equi-join would drop
    # every NULL-group row, violating the NULL-group contract above
    # (review r10b; auc_by/entropy_by get this for free from
    # groupBy/Window partitioning)
    ranked = base.join(
        rx,
        F.col("__g").eqNullSafe(F.col("__gx"))
        & (F.col("__x") == F.col("__xv")),
    ).drop("__gx", "__xv")
    ranked = ranked.join(
        ry,
        F.col("__g").eqNullSafe(F.col("__gy"))
        & (F.col("__y") == F.col("__yv")),
    ).drop("__gy", "__yv")
    m = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__r2x").alias("__sx"),
        F.sum("__r2y").alias("__sy"),
        F.sum(F.col("__r2x") * F.col("__r2x")).alias("__sxx"),
        F.sum(F.col("__r2x") * F.col("__r2y")).alias("__sxy"),
        F.sum(F.col("__r2y") * F.col("__r2y")).alias("__syy"),
    )
    # The gate, num, AND den's radicands ALL run on the EXACT
    # decimal moments: past 2^53 the float n*sxx - sx*sx of a
    # (near-)constant column cancels catastrophically — to a NONZERO
    # value for an exactly-constant column (measured: 2.2e12 at
    # n=10M, review r10b), to a NEGATIVE value for a near-constant
    # one where a double-expression den would be sqrt(neg) = NaN
    # while the exact variance stays positive (advice r10), and the
    # SAME cancellation in a double num would emit junk rho over an
    # exact den (review r11 — the covariance difference n*sxy -
    # sx*sy carries ~1e13 absolute error at 4e28 operand magnitude).
    # Each exact decimal difference takes ONE double cast.
    # DECIMAL(38,0) bounds these products at ~1e9 rows per group —
    # the ks_2sample documented-bound class.
    nD = F.col("n").cast("decimal(38,0)")
    num = (
        nD * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ).cast("double")
    varx = nD * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vary = nD * F.col("__syy") - F.col("__sy") * F.col("__sy")
    den = F.sqrt(varx.cast("double") * vary.cast("double"))
    zero = F.lit(0).cast("decimal(38,0)")
    return m.select(
        F.col("__g").alias(group_col),
        "n",
        F.when((varx > zero) & (vary > zero), num / den).alias("rho"),
    )


def mann_whitney_by(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    a_label,
    b_label,
    max_cells_per_group: int = 8_000_000,
) -> DataFrame:
    """Per-group Mann-Whitney U test — `mann_whitney_u` stratified
    (the nonparametric companion of `welch_by` for skewed/ordinal
    metrics, run for every segment/experiment in ONE aggregation):
    within each group, U_a for the ``a_label`` arm via the rank-sum
    identity with average-tie ranks, plus the tie-corrected
    normal-approximation z.

    2*R_a rides as an exact DECIMAL(38,0) integer over (group,
    value) cell counts with GROUP-PARTITIONED window prefix sums
    (the `auc_by` shape — parallel across groups, never a global
    sort, `max_cells_per_group`-guarded like the rest of the
    cell-window family); the tie correction Σ(t³ - t) is likewise
    an exact integer per group, so

        z = (2U_a - n_a*n_b) / (2 * sqrt(var)),
        var = n_a*n_b/12 * ((n+1) - Σ(t³-t)/(n*(n-1)))

    is a fixed IEEE expression a SQL oracle spells verbatim (no
    continuity correction — both engines then agree exactly). NULL
    values are excluded; a NULL group is itself a group. Groups
    with an empty arm or all-tied values (var = 0) return NULL z.
    Returns one row per group: (group, n_a, n_b, u2_a, z) with
    u2_a = 2*U_a exact.

    Scale: one cells aggregation + one group-partitioned window +
    one grouped sum, no driver collect; the default cell-cap guard
    adds one map-side-combined count and one group-cardinality join
    (pass max_cells_per_group=0 to opt out knowingly)."""
    no_output_collision(
        "mann_whitney_by", "group_col", group_col,
        ("n_a", "n_b", "u2_a", "z"),
    )
    if a_label == b_label:
        raise ValueError(
            "mann_whitney_by: a_label and b_label are the same value"
            f" ({a_label!r}) — one arm would be double-counted as"
            " both"
        )
    sv = F.col(side_col)
    cells = (
        df.filter(
            F.col(value_col).isNotNull()
            & ((sv == F.lit(a_label)) | (sv == F.lit(b_label)))
        )
        .groupBy(
            F.col(group_col).alias("__g"),
            F.col(value_col).alias("__v"),
        )
        .agg(
            F.coalesce(
                F.sum(F.when(sv == F.lit(a_label), F.lit(1))), F.lit(0)
            ).cast("long").alias("__ca"),
            F.coalesce(
                F.sum(F.when(sv == F.lit(b_label), F.lit(1))), F.lit(0)
            ).cast("long").alias("__cb"),
        )
    )
    cells = _max_cells_guard(
        cells, "mann_whitney_by", max_cells_per_group, "__ca"
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "__g", "__ca", "__cb",
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
    )
    cD = (F.col("__ca") + F.col("__cb")).cast("decimal(38,0)")
    before = (
        F.col("__cuma") + F.col("__cumb")
        - F.col("__ca") - F.col("__cb")
    ).cast("decimal(38,0)")
    r2a = F.col("__ca").cast("decimal(38,0)") * (
        F.lit(2).cast("decimal(38,0)") * before + cD + F.lit(1)
    )
    ties = cD * cD * cD - cD
    g = cum.groupBy("__g").agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
        F.sum(r2a).alias("__r2a"),
        F.sum(ties).alias("__t3"),
    )
    naD = F.col("n_a").cast("decimal(38,0)")
    u2 = F.col("__r2a") - naD * (F.col("n_a") + F.lit(1))
    nad, nbd = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nd = nad + nbd
    var = (
        nad * nbd / F.lit(12.0)
        * (
            (nd + F.lit(1.0))
            - F.col("__t3").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    num = (
        u2 - naD * F.col("n_b").cast("decimal(38,0)")
    ).cast("double")
    z = num / (F.lit(2.0) * F.sqrt(var))
    return g.select(
        F.col("__g").alias(group_col),
        "n_a",
        "n_b",
        u2.cast("double").alias("u2_a"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
            z,
        ).alias("z"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    tiebreak: "Sequence[str]",
    q: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR correction over a p-value
    column — the multiple-testing completion of the per-group test
    panel (`welch_by` / `ks_by` / `mann_whitney_by` / `srm_check`
    emit one p-statistic per segment; running 10k tests at
    alpha=0.05 expects 500 false positives, so every platform
    corrects): sort the m observed p-values ascending, find
    k = max{i : p_(i) <= i*q/m}, reject hypotheses ranked <= k.

    Ranks come from `rank.global_rank` over the REQUIRED total
    order (p, *tiebreak) — range-partitioned offsets, never a
    single-task global sort; ``m`` is the free offset total. The
    step-up cutoff k is ONE scalar aggregation collected to the
    driver (the `ks_2sample` two-scalar precedent), broadcast back
    as a literal. p outside [0, 1] raises in-plan; NULL-p rows are
    EXCLUDED (untested hypotheses are not corrected — document the
    denominator m accordingly). Returns the non-NULL-p rows with
    (rank, rejected) appended: rejected = rank <= k, and every
    rejected row satisfies the BH guarantee at level ``q``.

    Scale: one range shuffle for the rank, one map-side-combined
    scalar aggregation, pure row expressions after."""
    if not 0.0 < q < 1.0:
        raise ValueError("bh_fdr: q must be in (0, 1)")
    if isinstance(tiebreak, str):
        # a bare string would splat into single-character column
        # names ([p_col, *"id"] == [p_col, "i", "d"]) — wrong or
        # confusingly unresolved total order (review r12b)
        tiebreak = [tiebreak]
    no_inplace_overwrite("bh_fdr", "rank", df.columns)
    no_inplace_overwrite("bh_fdr", "rejected", df.columns)
    from hdfe_spark.operators.rank import global_rank_with_total

    p = F.col(p_col)
    guarded = F.when(
        (p < 0.0) | (p > 1.0),
        F.raise_error(
            F.concat(
                F.lit("bh_fdr: p-value outside [0, 1]: "),
                p.cast("string"),
            )
        ).cast("double"),
    ).otherwise(p)
    base = df.filter(p.isNotNull()).withColumn(p_col, guarded)
    ranked, m = global_rank_with_total(
        base, [p_col, *tiebreak], rank_col="rank"
    )
    if m == 0:
        return ranked.withColumn("rejected", F.lit(False))
    thresh = F.col("rank").cast("double") * F.lit(float(q)) / F.lit(
        float(m)
    )
    krow = ranked.agg(
        F.max(F.when(F.col(p_col) <= thresh, F.col("rank"))).alias(
            "__k"
        )
    ).collect()[0]["__k"]
    k = int(krow) if krow is not None else 0
    return ranked.withColumn("rejected", F.col("rank") <= F.lit(k))


def entropy_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qbits: int = 20,
) -> DataFrame:
    """Per-group Shannon entropy of a categorical column (nats) —
    the diversity signal corpus curation tracks per source (a
    near-zero entropy source is boilerplate; see also
    `char_entropy` for the within-document variant). Uses the
    identity H = ln(n) - (1/n) * sum_v c_v ln c_v so the only libm
    calls are ln of INTEGER counts, each QUANTIZED to
    round(2^qbits * ln c) — the lm-family convention whose
    JVM-vs-DuckDB parity was measured (a disagreement needs ln
    within ~2^-(qbits+1) of a rounding boundary) — making the
    entropy numerator n*qln(n) - sum(c * qln(c)) an exact
    DECIMAL(38,0) integer; the entropy is ONE final division.

    NULL values are excluded; a NULL group is itself a group.
    Returns one row per group: (group, n, n_distinct, entropy).
    Plan: one (group, value) cell aggregation + one group rollup —
    two map-side-combined shuffles, nothing driver-side.
    """
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    )
    scale = float(1 << qbits)
    cells = base.groupBy("__g", "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    qln_c = F.round(F.ln(F.col("__c")) * F.lit(scale)).cast(
        "decimal(38,0)"
    )
    g = cells.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("__c").cast("decimal(38,0)") * qln_c).alias("__s"),
    )
    qln_n = F.round(F.ln(F.col("n")) * F.lit(scale)).cast(
        "decimal(38,0)"
    )
    e_num = F.col("n").cast("decimal(38,0)") * qln_n - F.col("__s")
    return g.select(
        F.col("__g").alias(group_col),
        "n",
        "n_distinct",
        (
            e_num.cast("double")
            / (F.col("n").cast("double") * F.lit(scale))
        ).alias("entropy"),
    )


def logrank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    a_label,
    b_label,
    max_cells: int = 100_000,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test: do two groups' survival curves
    differ? The inference companion of `kaplan_meier`/`km_by` (the
    curves say WHAT, this says WHETHER the gap is noise) — churn
    A/B readouts at event-time granularity with censoring handled.

    At every distinct event time t: O1 = observed events in group
    a, E1_t = d_t * n1_t / n_t, V_t = d_t (n1_t/n_t)(n2_t/n_t)
    (n_t - d_t)/(n_t - 1); chi2 = (O1 - E1)^2 / V with E1, V summed
    over event times.

    Exactness: per-(group, time) cells (events d, censored c) come
    from the SHARED `_km_cells` collect (ONE aggregation, bounded by
    ``max_cells``, NULL events fail loud driver-side — the same
    contract and message as `kaplan_meier`/`km_by`, one code path
    for all three survival operators); at-risk counts are exact
    prefix arithmetic over the collected cells; the two
    order-sensitive float sums (E1, V) are driver LEFT FOLDS in
    time order — each term one fixed IEEE expression — which a SQL
    oracle replays with list_reduce over time-ordered lists. Times
    with a single subject at risk contribute V = 0 (their n1*n2
    product is 0 anyway; the 0/0 is defined away, the standard
    convention). Rows outside the two labels are excluded. Returns
    ONE row: (n_a, n_b, o1, e1, v, chi2).
    """
    _km_duration_guard(df, duration_col, "logrank_test")
    base = df.filter(F.col(group_col).isin([a_label, b_label]))
    cells = _km_cells(
        base, duration_col, event_col, [group_col], max_cells,
        "logrank_test",
    )
    from collections import defaultdict

    per_t: dict = defaultdict(lambda: [0, 0, 0, 0])  # ca cb da db
    for r in cells:
        nc = int(r["d"]) + int(r["c"])
        dc = int(r["d"])
        slot = per_t[r[duration_col]]
        if r[group_col] == a_label:
            slot[0] += nc
            slot[2] += dc
        else:
            slot[1] += nc
            slot[3] += dc
    n_a = sum(v[0] for v in per_t.values())
    n_b = sum(v[1] for v in per_t.values())
    if n_a == 0 or n_b == 0:
        raise ValueError("logrank_test: empty group")
    o1 = 0
    e1 = 0.0
    v = 0.0
    seen_a, seen_b = 0, 0
    for t in sorted(per_t):
        ca, cb, da, db = per_t[t]
        n1 = n_a - seen_a
        n2 = n_b - seen_b
        seen_a += ca
        seen_b += cb
        dt = da + db
        if dt == 0:
            continue
        nt = n1 + n2
        o1 += da
        # fixed IEEE term spellings, replayed by the oracle
        e1 = e1 + float(dt * n1) / float(nt)
        if nt > 1:
            v = v + (
                float(dt * n1)
                / float(nt)
                * (float(n2) / float(nt))
                * (float(nt - dt) / float(nt - 1))
            )
    if v == 0.0:
        raise ValueError(
            "logrank_test: zero variance (no time has both groups "
            "at risk with an event) — chi2 is undefined"
        )
    chi2 = (float(o1) - e1) * (float(o1) - e1) / v
    return df.sparkSession.createDataFrame(
        [(n_a, n_b, o1, e1, v, chi2)],
        "n_a long, n_b long, o1 long, e1 double, v double, chi2 double",
    )


def mcnemar_test(
    df: DataFrame, label_col: str, pred_a_col: str, pred_b_col: str
) -> DataFrame:
    """McNemar's paired test: do two classifiers scored on the SAME
    rows differ? The only correct way to compare models on shared
    eval data (two independent accuracy CIs ignore the pairing).
    With b = rows A got right and B wrong, c = the reverse:

        chi2 = (b - c)^2 / (b + c)

    b, c are exact integer conditional sums (order-free), the
    statistic ONE division of exact integers; rows where both agree
    contribute nothing (the discordant-pairs principle). Labels and
    both predictions must be integral 0/1 (the `confusion_stats`
    in-plan domain guard, shared spelling); NULL rows excluded.
    chi2 is NULL when b + c = 0 (no discordant pairs — undefined,
    never a crash). Returns ONE row: (n, b, c, chi2). One map-side-
    combined aggregation — the minimum possible work."""
    from hdfe_spark.operators.ml import _bin01

    y = _bin01("mcnemar_test", label_col, F.col(label_col).cast("long"))
    pa = _bin01(
        "mcnemar_test", pred_a_col, F.col(pred_a_col).cast("long")
    )
    pb = _bin01(
        "mcnemar_test", pred_b_col, F.col(pred_b_col).cast("long")
    )
    base = df.filter(y.isNotNull() & pa.isNotNull() & pb.isNotNull())
    cnt = lambda cond: F.coalesce(  # noqa: E731
        F.sum(cond.cast("long")), F.lit(0)
    ).cast("long")
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt((pa == y) & (pb != y)).alias("b"),
        cnt((pa != y) & (pb == y)).alias("c"),
    )
    b, c = F.col("b"), F.col("c")
    return agg.select(
        "n", "b", "c",
        F.when(
            b + c > 0,
            ((b - c) * (b - c)).cast("double")
            / (b + c).cast("double"),
        ).alias("chi2"),
    )


def chi2_gof_by(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    probs: dict,
) -> DataFrame:
    """Per-group chi-squared GOODNESS-OF-FIT against SPECIFIED
    category probabilities — the sample-ratio-mismatch (SRM) check
    every experimentation platform runs per experiment
    ("was this 50/50 split actually 50/50?"), and the 1-way
    companion of `chi2_independence`'s 2-way test.

    chi2_g = Σ_c (obs_c - n_g*p_c)² / (n_g*p_c) over the categories
    of ``probs`` (validated: positive, summing to 1 within 1e-9).
    Per-category counts come from ONE conditional aggregation (the
    category set is a static literal, the ndcg_by convention) —
    exact integers; each term is a fixed IEEE expression with the
    literal p_c. A category outside ``probs`` (including NULL)
    raises IN-PLAN (an arm not in the design is a caller bug a
    quiet filter would absorb — the `_bin01` convention). Returns
    one row per group: (group, n, chi2, dof) with dof = k-1.

    Scale: one map-side-combined aggregation keyed on the group;
    no window, no join, no driver collect."""
    if not probs:
        raise ValueError("chi2_gof_by: probs must be non-empty")
    # the output schema is (group, n, chi2, dof): a group column
    # named like a fixed output would yield duplicate column names
    # and AMBIGUOUS_REFERENCE downstream (review r11; factored into
    # the shared guard for the whole grouped family, advice r12)
    no_output_collision(
        "chi2_gof_by", "group_col", group_col, ("n", "chi2", "dof")
    )
    cats = list(probs)
    ps = [float(probs[c]) for c in cats]
    if any(p <= 0.0 for p in ps):
        raise ValueError("chi2_gof_by: every probability must be > 0")
    if abs(sum(ps) - 1.0) > 1e-9:
        raise ValueError(
            f"chi2_gof_by: probabilities sum to {sum(ps)!r}, not 1"
        )
    cat = F.col(cat_col)
    guarded = F.when(
        cat.isNull() | ~cat.isin(cats),
        F.raise_error(
            F.concat(
                F.lit("chi2_gof_by: category outside the design: "),
                F.coalesce(cat.cast("string"), F.lit("NULL")),
            )
        ),
    ).otherwise(cat)
    obs = [
        F.coalesce(
            F.sum(F.when(guarded == F.lit(c), F.lit(1))), F.lit(0)
        ).cast("long").alias(f"__o{i}")
        for i, c in enumerate(cats)
    ]
    agg = df.groupBy(F.col(group_col).alias("__g")).agg(*obs)
    n = sum((F.col(f"__o{i}") for i in range(1, len(cats))),
            F.col("__o0")).cast("long")
    staged = agg.select("__g", *[f"__o{i}" for i in range(len(cats))],
                        n.alias("n"))
    nd = F.col("n").cast("double")
    terms = None
    for i, p in enumerate(ps):
        e = nd * F.lit(p)
        t = (F.col(f"__o{i}").cast("double") - e) * (
            F.col(f"__o{i}").cast("double") - e
        ) / e
        terms = t if terms is None else terms + t
    return staged.select(
        F.col("__g").alias(group_col),
        "n",
        terms.alias("chi2"),
        F.lit(len(cats) - 1).cast("long").alias("dof"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 100_000,
) -> DataFrame:
    """Cramer's V — the [0, 1] effect size `chi2_independence`'s raw
    statistic lacks: V = sqrt(chi2 / (n * min(r-1, c-1))). The
    per-cell chi2 terms for OBSERVED cells come from the SHARED
    `chi2_independence` (exact counts, one IEEE division per cell);
    the statistic then sums over the FULL r x c grid — every
    unobserved (a, b) combination contributes (0 - exp)^2 / exp
    with exp = row_total * col_total / n, computed here with the
    SAME IEEE expression the observed path uses (obs = 0), so
    sparse contingency tables are not underestimated. The one
    order-sensitive float reduction — the sum of grid terms — is a
    driver LEFT FOLD in (a, b) grid order (the anova/kruskal
    collect-scalars pattern, bounded by ``max_cells`` on BOTH the
    observed cell count and the dense r*c grid), which the oracle
    replays with list_reduce over the margin cross-join LEFT JOIN
    observed, ORDER BY a, b. Returns ONE row: (n, r, c, chi2, v)."""
    cells = (
        chi2_independence(df, col_a, col_b)
        .limit(max_cells + 1)
        .collect()
    )
    if len(cells) > max_cells:
        raise ValueError(
            f"cramers_v: more than max_cells={max_cells} cells"
        )
    if not cells:
        raise ValueError("cramers_v: empty input")
    row_tot: dict = {}
    col_tot: dict = {}
    term_map: dict = {}
    for x in cells:
        row_tot[x[col_a]] = int(x["row_total"])
        col_tot[x[col_b]] = int(x["col_total"])
        term_map[(x[col_a], x[col_b])] = float(x["chi2_term"])
    n = sum(int(x["obs"]) for x in cells)
    r = len(row_tot)
    c = len(col_tot)
    if r * c > max_cells:
        raise ValueError(
            f"cramers_v: dense grid r*c={r * c} exceeds "
            f"max_cells={max_cells}"
        )
    k = min(r - 1, c - 1)
    if k < 1:
        raise ValueError(
            "cramers_v: a column is constant — V is undefined"
        )
    grand = float(n)
    terms = []
    for a in sorted(row_tot):
        for b in sorted(col_tot):
            t = term_map.get((a, b))
            if t is None:
                exp = float(row_tot[a]) * float(col_tot[b]) / grand
                t = (0.0 - exp) * (0.0 - exp) / exp
            terms.append(t)
    chi2 = terms[0]
    for t in terms[1:]:
        chi2 = chi2 + t
    v = math.sqrt(chi2 / (float(n) * float(k)))
    return df.sparkSession.createDataFrame(
        [(n, r, c, chi2, v)],
        "n long, r long, c long, chi2 double, v double",
    )


def gini_by(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: float = 1e6,
    max_cells_per_group: int = 8_000_000,
) -> DataFrame:
    """Per-group exact Gini coefficient — the global `gini`
    stratified (concentration of token/byte mass per source): the
    same doubled tie-block identity T = sum v*c*(2B + c + 1) with B
    from GROUP-PARTITIONED window prefix sums (parallel across
    groups, never a global sort — the `auc_by` shape), every sum an
    exact DECIMAL(38,0) integer, and the coefficient

        G = T / (n * S) - (n + 1) / n

    a fixed IEEE expression per group the oracle spells verbatim.
    Negative values raise in-plan (Gini is undefined); groups with
    zero total return NULL gini; a NULL group is itself a group.
    Returns one row per group: (group, n, gini)."""
    no_output_collision(
        "gini_by", "group_col", group_col, ("n", "gini")
    )
    u = F.round(F.col(value_col) * scale).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    # guard the RAW value (review r10d): a quantized guard would let
    # values in (-0.5/scale, 0) slip through as zero-mass rows
    ug = F.when(
        F.col(value_col) < 0,
        F.raise_error(
            F.concat(
                F.lit("gini_by: negative value: "),
                F.col(value_col).cast("string"),
            )
        ).cast("decimal(38,0)"),
    ).otherwise(u)
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("__g"), ug.alias("__u"))
        .groupBy("__g", "__u")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    cells = _max_cells_guard(
        cells, "gini_by", max_cells_per_group, "__c"
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__u")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.select(
        "__g", "__u", "__c", F.sum("__c").over(w).alias("__cum")
    )
    c = F.col("__c").cast("decimal(38,0)")
    b = (F.col("__cum") - F.col("__c")).cast("decimal(38,0)")
    block2 = F.col("__u") * c * (F.lit(2) * b + c + F.lit(1))
    g = cum.groupBy("__g").agg(
        F.sum(c).cast("long").alias("n"),
        F.sum(F.col("__u") * c).alias("__s"),
        F.sum(block2).alias("__t2"),
    )
    nd = F.col("n").cast("double")
    gini_expr = (
        F.col("__t2").cast("double")
        / (nd * F.col("__s").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return g.select(
        F.col("__g").alias(group_col),
        "n",
        F.when(F.col("__s") > zero, gini_expr).alias("gini"),
    )


# Two-sided alpha=0.05 / power=0.80 normal quantiles, the fixed
# constants of every power calculator (z_{0.975}, z_{0.80}); exact
# decimal literals so both engines fold the identical doubles.
_Z_TABLE = {
    0.10: 1.6448536269514722,   # z_{1 - 0.10/2}
    0.05: 1.959963984540054,    # z_{1 - 0.05/2}
    0.01: 2.5758293035489004,   # z_{1 - 0.01/2}
}
_Z_POWER = {
    0.80: 0.8416212335729143,   # z_{0.80}
    0.90: 1.2815515655446004,   # z_{0.90}
    0.95: 1.6448536269514722,   # z_{0.95}
}


def mde_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    alpha: float = 0.05,
    power: float = 0.80,
    scale: float = 1e6,
) -> DataFrame:
    """Per-segment minimum detectable effect — the power-analysis
    completion of the experimentation panel (`welch_by` /
    `mann_whitney_by` / `chi2_gof_by` / `bh_fdr`): for every segment,
    the smallest true mean difference a two-arm test at significance
    ``alpha`` (two-sided) detects with probability ``power`` GIVEN
    the observed per-arm variances and sample sizes:
    ``mde = (z_{1−α/2} + z_{power}) · sqrt(var_a/n_a + var_b/n_b)``.

    Pure composition on `welch_by`'s exact-decimal moment machinery —
    same ONE group-keyed aggregation, same NULL conventions (thin
    arms → NULL mde), plus one narrow projection with the two normal
    quantiles folded as literals (a small fixed table of exact
    double constants — α ∈ {0.10, 0.05, 0.01}, power ∈ {0.80, 0.90,
    0.95} — so both engines see identical doubles; other values
    raise rather than silently approximating). Also emits the
    realized effect (mean_b − mean_a) and its ratio to the MDE — the
    "was this experiment even powered to see what it saw?" readout.
    """
    no_output_collision(
        "mde_by",
        "group_col",
        group_col,
        ("n_a", "n_b", "mde", "observed_diff", "power_ratio"),
    )
    if alpha not in _Z_TABLE:
        raise ValueError(
            f"alpha must be one of {sorted(_Z_TABLE)} (exact-constant"
            " table; arbitrary quantiles would need an inverse-normal"
            " the SQL oracle cannot mirror)"
        )
    if power not in _Z_POWER:
        raise ValueError(f"power must be one of {sorted(_Z_POWER)}")
    z = _Z_TABLE[alpha] + _Z_POWER[power]
    base = welch_by(
        df, group_col, arm_col, value_col, arm_a, arm_b, scale=scale
    )
    se = F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    mde = F.lit(float(z)) * se
    observed = F.col("mean_b") - F.col("mean_a")
    return base.select(
        F.col(group_col),
        "n_a", "n_b",
        mde.alias("mde"),
        observed.alias("observed_diff"),
        F.when(mde > 0, F.abs(observed) / mde).alias("power_ratio"),
    )


def cuped_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    covariate_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Per-group CUPED variance-reduced treatment effect — the global
    `cuped` transform stratified (the `welch_ttest`/`welch_by`
    convention: run every experiment segment at once), and extended
    from adjusted means to the ARM CONTRAST with the rho² readout
    (Deng et al. 2013, "Improving the Sensitivity of Online
    Controlled Experiments by Utilizing Pre-Experiment Data" — the
    standard industry adjustment): within each group, regress the
    outcome on
    a pre-experiment covariate POOLED across both arms
    (``theta = cov(y, x) / var(x)``), adjust
    ``y' = y − theta·(x − E[x])``, and report the adjusted
    arm-b-minus-arm-a effect alongside the raw one and the variance-
    reduction factor ``rho² = corr(y, x)²`` (adjusted-effect variance
    shrinks by exactly 1 − rho² under the CUPED model).

    Engine-exact on the `welch_by` pattern: per-(group, arm) AND
    pooled moments are exact DECIMAL(38,0) sums of
    ``round(v·scale)`` integers from ONE conditional aggregation
    (never a second scan for the pooled theta); every reported
    number is then a fixed IEEE expression over those exact decimals
    — covariance/variance numerators are exact decimal differences
    ``n·sxy − sx·sy`` (the spearman_by anti-cancellation spelling),
    so a SQL oracle mirrors each value literally. The estimating
    sample is rows where BOTH y and x are non-NULL (one shared mask
    — the r13 moment-estimator discipline); a NULL group is itself a
    group. Groups with zero covariate variance or an arm thinner
    than 2 get NULL theta/adjusted effect, never a poisoned panel.

    Scale: ONE shuffle on the group key, map-side combined; k scalars
    per group out — 10k experiment segments CUPED-adjusted in one
    pass at any row count.
    """
    no_output_collision(
        "cuped_by",
        "group_col",
        group_col,
        (
            "n_a", "n_b", "theta", "diff_raw", "diff_cuped",
            "rho2",
        ),
    )
    if arm_a == arm_b:
        raise ValueError(
            f"cuped_by: arm_a and arm_b are the same value ({arm_a!r})"
        )
    yv, xv = F.col(value_col), F.col(covariate_col)
    uy = F.round(yv * F.lit(float(scale))).cast("decimal(38,0)")
    ux = F.round(xv * F.lit(float(scale))).cast("decimal(38,0)")
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)
    zero = F.lit(0).cast("decimal(38,0)")

    def _sum(cond, expr, name):
        return F.coalesce(F.sum(F.when(cond, expr)), zero).alias(name)

    m = (
        df.filter(_non_nan(df, value_col) & _non_nan(df, covariate_col)
                  & (is_a | is_b))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            # pooled moments (theta / rho2)
            F.count(F.lit(1)).alias("__n"),
            _sum(F.lit(True), uy, "__sy"),
            _sum(F.lit(True), ux, "__sx"),
            _sum(F.lit(True), ux * ux, "__sxx"),
            _sum(F.lit(True), ux * uy, "__sxy"),
            _sum(F.lit(True), uy * uy, "__syy"),
            # per-arm first moments (the effect)
            F.coalesce(F.sum(F.when(is_a, F.lit(1))), F.lit(0))
            .cast("long").alias("n_a"),
            _sum(is_a, uy, "__sy_a"),
            _sum(is_a, ux, "__sx_a"),
            F.coalesce(F.sum(F.when(is_b, F.lit(1))), F.lit(0))
            .cast("long").alias("n_b"),
            _sum(is_b, uy, "__sy_b"),
            _sum(is_b, ux, "__sx_b"),
        )
    )
    # Each numerator carries the DECIMAL(38,0) overflow guard fused
    # at definition (review r13), so theta/rho2/conditions all fail
    # loudly and identically instead of a bare mid-plan ANSI error.
    covnum = _dec38_num(
        "cuped_by", F.col("__n"), F.col("__sxy"),
        F.col("__sx"), F.col("__sy"),
    )
    vxnum = _dec38_num("cuped_by", F.col("__n"), F.col("__sxx"),
                       F.col("__sx"))
    vynum = _dec38_num("cuped_by", F.col("__n"), F.col("__syy"),
                       F.col("__sy"))
    theta = covnum / vxnum  # scale cancels: cov(uy,ux)/var(ux)
    rho2 = covnum * covnum / (vxnum * vynum)
    mya = F.col("__sy_a").cast("double") / F.col("n_a").cast("double")
    myb = F.col("__sy_b").cast("double") / F.col("n_b").cast("double")
    mxa = F.col("__sx_a").cast("double") / F.col("n_a").cast("double")
    mxb = F.col("__sx_b").cast("double") / F.col("n_b").cast("double")
    sc = F.lit(float(scale))
    diff_raw = (myb - mya) / sc
    diff_cuped = (myb - mya - theta * (mxb - mxa)) / sc
    ok_arms = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    ok_theta = ok_arms & (vxnum > 0)
    return m.select(
        F.col("__g").alias(group_col),
        "n_a",
        "n_b",
        F.when(ok_theta, theta).alias("theta"),
        F.when(ok_arms, diff_raw).alias("diff_raw"),
        F.when(ok_theta, diff_cuped).alias("diff_cuped"),
        F.when(ok_theta & (vynum > 0), rho2).alias("rho2"),
    )


def smd_by(
    df: DataFrame,
    arm_col: str,
    value_cols: Sequence[str],
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Covariate balance table — the standardized mean difference
    (Cohen's d with the pooled-arms denominator) of every covariate
    between two arms: ``smd = (mean_b − mean_a) /
    sqrt((var_a + var_b)/2)``, the randomization / matching / IPW
    diagnostic every causal panel (`did` / `ipw_ate` / `aipw_ate`)
    reads first — |smd| > 0.1 is the conventional imbalance flag.

    One row per covariate. ALL covariates' per-arm moments (count /
    sum / sum-of-squares of exact ``round(v·scale)`` DECIMAL(38,0)
    integers — the `welch_by` machinery, k covariates wide) come
    from ONE ungrouped, map-side-combined aggregation; the k output
    rows are a stack projection over those scalars, so the plan is
    one scan + one 6k-scalar reduce at any row count. Per-covariate
    pairwise deletion (each covariate's moments over its own
    non-NULL rows — the balance-table convention); arms thinner than
    2 on a covariate get NULL smd.
    """
    value_cols = list(value_cols)
    if not value_cols:
        raise ValueError("smd_by: value_cols is empty")
    if arm_a == arm_b:
        raise ValueError(
            f"smd_by: arm_a and arm_b are the same value ({arm_a!r})"
        )
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)
    zero = F.lit(0).cast("decimal(38,0)")
    aggs = []
    for i, c in enumerate(value_cols):
        u = F.round(F.col(c) * F.lit(float(scale))).cast("decimal(38,0)")
        for tag, cond in (("a", is_a), ("b", is_b)):
            cv = cond & _non_nan(df, c)
            aggs.append(
                F.coalesce(F.sum(F.when(cv, F.lit(1))), F.lit(0))
                .cast("long").alias(f"__n_{tag}_{i}")
            )
            aggs.append(
                F.coalesce(F.sum(F.when(cv, u)), zero).alias(f"__s_{tag}_{i}")
            )
            aggs.append(
                F.coalesce(F.sum(F.when(cv, u * u)), zero)
                .alias(f"__ss_{tag}_{i}")
            )
    m = df.filter(is_a | is_b).agg(*aggs)

    sc = F.lit(float(scale))
    sc2 = F.lit(float(scale) * float(scale))
    cols = []
    for i, c in enumerate(value_cols):
        def _stats(tag, i=i):
            n = F.col(f"__n_{tag}_{i}")
            nd = n.cast("double")
            # overflow guard fused at the numerator (review r13)
            varnum = _dec38_num(
                "smd_by", n, F.col(f"__ss_{tag}_{i}"),
                F.col(f"__s_{tag}_{i}"),
            )
            mean = F.col(f"__s_{tag}_{i}").cast("double") / nd
            var = varnum / (nd * (nd - F.lit(1.0)))
            return n, mean, var

        na, ma, va = _stats("a")
        nb, mb, vb = _stats("b")
        ok = (na >= 2) & (nb >= 2)
        denom = F.sqrt((va / sc2 + vb / sc2) / F.lit(2.0))
        smd = ((mb - ma) / sc) / denom
        cols.append(
            F.struct(
                F.lit(c).alias("covariate"),
                na.alias("n_a"),
                nb.alias("n_b"),
                F.when(na >= 1, ma / sc).alias("mean_a"),
                F.when(nb >= 1, mb / sc).alias("mean_b"),
                F.when(ok & (denom > 0), smd).alias("smd"),
            )
        )
    stacked = m.select(
        F.explode(F.array(*cols)).alias("__row")
    )
    return stacked.select(
        F.col("__row.covariate").alias("covariate"),
        F.col("__row.n_a").alias("n_a"),
        F.col("__row.n_b").alias("n_b"),
        F.col("__row.mean_a").alias("mean_a"),
        F.col("__row.mean_b").alias("mean_b"),
        F.col("__row.smd").alias("smd"),
    )


# One-sided normal quantiles z_{1-alpha} for the equivalence test —
# exact doubles both engines fold identically (the _Z_TABLE pattern).
_Z_ONESIDED = {
    0.10: 1.2815515655446004,   # z_{0.90}
    0.05: 1.6448536269514722,   # z_{0.95}
    0.01: 2.3263478740408408,   # z_{0.99}
}


def power_sample_size_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    target_effect: float,
    alpha: float = 0.05,
    power: float = 0.80,
    scale: float = 1e6,
) -> DataFrame:
    """Per-segment required sample size — `mde_by` inverted: given a
    TARGET effect, how many subjects per arm does each segment need
    at significance ``alpha`` (two-sided) and ``power``, using the
    segment's own observed arm variances?
    ``n/arm = ⌈(z_{1−α/2} + z_{power})² · (var_a + var_b) / δ²⌉``
    (the unequal-variance two-sample form at equal allocation).
    Also emits the realized per-arm sizes and the fraction of the
    requirement already collected (min over arms) — the "how much
    longer must this experiment run?" readout.

    Same ONE group-keyed exact-decimal aggregation as `welch_by`
    (pure composition); z constants from the same fixed exact-double
    tables; thin arms (n < 2) get NULL requirement.
    """
    no_output_collision(
        "power_sample_size_by",
        "group_col",
        group_col,
        ("n_a", "n_b", "n_required_per_arm", "fill_fraction"),
    )
    if alpha not in _Z_TABLE:
        raise ValueError(f"alpha must be one of {sorted(_Z_TABLE)}")
    if power not in _Z_POWER:
        raise ValueError(f"power must be one of {sorted(_Z_POWER)}")
    if not target_effect > 0:
        raise ValueError("target_effect must be > 0")
    z = _Z_TABLE[alpha] + _Z_POWER[power]
    base = welch_by(
        df, group_col, arm_col, value_col, arm_a, arm_b, scale=scale
    )
    need = F.ceil(
        F.lit(float(z) * float(z))
        * (F.col("var_a") + F.col("var_b"))
        / F.lit(float(target_effect) * float(target_effect))
    ).cast("long")
    have = F.least(
        F.col("n_a").cast("double") / need.cast("double"),
        F.col("n_b").cast("double") / need.cast("double"),
    )
    return base.select(
        F.col(group_col),
        "n_a", "n_b",
        need.alias("n_required_per_arm"),
        F.when(need > 0, have).alias("fill_fraction"),
    )


def tost_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    margin: float,
    alpha: float = 0.05,
    scale: float = 1e6,
) -> DataFrame:
    """Per-segment equivalence test (TOST — two one-sided tests, the
    Schuirmann procedure): is each segment's arm-b-minus-arm-a mean
    difference provably INSIDE ±``margin``? The completion of the
    test panel for "prove no change" launches (a non-significant
    welch_by t is NOT evidence of equivalence).

    Large-sample z form on `welch_by`'s exact-decimal moments (one
    group-keyed aggregation): ``z_lower = (diff + margin)/se``,
    ``z_upper = (diff − margin)/se``, equivalent iff
    ``z_lower ≥ z_{1−α}`` AND ``z_upper ≤ −z_{1−α}`` — both one-sided
    tests reject at ``alpha``. The critical value comes from the
    fixed exact-double table (`_Z_ONESIDED`), so the boolean verdict
    is engine-exact. Thin arms or zero variance → NULL verdict,
    never a poisoned panel.
    """
    no_output_collision(
        "tost_by",
        "group_col",
        group_col,
        ("n_a", "n_b", "diff", "z_lower", "z_upper", "equivalent"),
    )
    if alpha not in _Z_ONESIDED:
        raise ValueError(f"alpha must be one of {sorted(_Z_ONESIDED)}")
    if not margin > 0:
        raise ValueError("margin must be > 0")
    zc = _Z_ONESIDED[alpha]
    base = welch_by(
        df, group_col, arm_col, value_col, arm_a, arm_b, scale=scale
    )
    diff = F.col("mean_b") - F.col("mean_a")
    se = F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    z_lower = (diff + F.lit(float(margin))) / se
    z_upper = (diff - F.lit(float(margin))) / se
    ok = se > 0
    return base.select(
        F.col(group_col),
        "n_a", "n_b",
        F.when(ok, diff).alias("diff"),
        F.when(ok, z_lower).alias("z_lower"),
        F.when(ok, z_upper).alias("z_upper"),
        F.when(
            ok,
            (z_lower >= F.lit(float(zc))) & (z_upper <= F.lit(-float(zc))),
        ).alias("equivalent"),
    )


def qte_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int | None = None,
) -> DataFrame:
    """Per-segment quantile treatment effects: at each probability p,
    the arm-b-minus-arm-a difference of EXACT per-arm quantiles —
    where in the outcome distribution does the treatment act? (A mean
    shift from the top decile and a uniform shift are
    indistinguishable to `welch_by`/`cuped_by`; QTE separates them.)

    ONE group-keyed aggregation computes every (arm, p) exact
    percentile as a conditional aggregate (``percentile(CASE WHEN
    arm THEN v END, p)`` — linear interpolation, the
    `winsorize_by`/`mad_outliers` cross-engine precedent); the
    |probs| output rows per group are a stack projection, so the
    plan is one shuffle + one generate at any row count. Exact
    percentiles sort within each group-arm aggregation buffer —
    per-segment groups, the winsorize_by scale contract; for
    billion-row groups pass ``accuracy`` to switch every cut to the
    ``percentile_approx`` GK sketch (the `winsorize_by`/
    `mad_outliers` kwarg convention: rank error <= 1/accuracy,
    O(accuracy·log n) memory per group-arm regardless of group size;
    merge-order-dependent, so that mode is not oracle-hashable — the
    registered query keeps the exact default).
    NULL values are outside both arms; thin arms give NULL qte.
    """
    no_output_collision(
        "qte_by",
        "group_col",
        group_col,
        ("n_a", "n_b", "p", "q_a", "q_b", "qte"),
    )
    probs = [float(p) for p in probs]
    if not probs or not all(0.0 <= p <= 1.0 for p in probs):
        raise ValueError("qte_by: probs must be in [0, 1]")
    if accuracy is not None and accuracy < 1:
        raise ValueError("qte_by: accuracy >= 1")
    if arm_a == arm_b:
        raise ValueError(
            f"qte_by: arm_a and arm_b are the same value ({arm_a!r})"
        )
    # fully parameterized (review r13b: an earlier repr()-built SQL
    # string crashed on arm values whose repr is not a SQL literal —
    # dates, Decimals, numpy scalars; F.lit binds them all, matching
    # welch_by/cuped_by)
    va = F.when(F.col(arm_col) == F.lit(arm_a), F.col(value_col))
    vb = F.when(F.col(arm_col) == F.lit(arm_b), F.col(value_col))
    aggs = [
        F.count(va).alias("__n_a"),
        F.count(vb).alias("__n_b"),
    ]

    def _pct(cond_col, p):
        if accuracy is None:
            return F.percentile(cond_col, F.lit(float(p)))
        return F.percentile_approx(
            cond_col, F.lit(float(p)), F.lit(int(accuracy))
        )

    for i, p in enumerate(probs):
        aggs.append(_pct(va, p).alias(f"__qa_{i}"))
        aggs.append(_pct(vb, p).alias(f"__qb_{i}"))
    m = (
        df.filter(
            _non_nan(df, value_col)
            & F.col(arm_col).isin(arm_a, arm_b)
        )
        .groupBy(F.col(group_col).alias("__g"))
        .agg(*aggs)
    )
    rows = []
    for i, p in enumerate(probs):
        qa, qb = F.col(f"__qa_{i}"), F.col(f"__qb_{i}")
        rows.append(
            F.struct(
                F.lit(p).alias("p"),
                qa.alias("q_a"),
                qb.alias("q_b"),
                (qb - qa).alias("qte"),
            )
        )
    out = m.select(
        F.col("__g").alias(group_col),
        F.col("__n_a").cast("long").alias("n_a"),
        F.col("__n_b").cast("long").alias("n_b"),
        F.explode(F.array(*rows)).alias("__r"),
    )
    return out.select(
        group_col, "n_a", "n_b",
        F.col("__r.p").alias("p"),
        F.col("__r.q_a").alias("q_a"),
        F.col("__r.q_b").alias("q_b"),
        F.col("__r.qte").alias("qte"),
    )


def qte_by_approx_certificate(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-segment GK-bound certificate for `qte_by`'s ``accuracy``
    (sketch) mode — the mode you'd actually run on billion-row
    group-arms, whose returned VALUES are legally merge-order-
    dependent and therefore not oracle-hashable (VERDICT r13 item 3).
    The `grouped_quantiles_approx_certificate` convention, stratified
    BY ARM: every per-(group, arm, p) sketch cut is re-ranked EXACTLY
    within its own group-arm in a second scan, and its tie-robust
    rank interval [#{x < v}, #{x <= v}] / n_arm must intersect
    [p − eps, p + eps] with eps = 1/accuracy (+1/n_arm discreteness
    + fp slack) — the Greenwald-Khanna guarantee. Emits only
    scale-stable facts: (group, n_a, n_b, n_probs, within_bound);
    the cuts themselves never appear in the output.

    Scale: two scans — the sketch aggregation (O(accuracy·log n)
    memory per group-arm), then one join of the group-cardinality
    sketch table back onto the data (AQE-planned broadcast for
    per-segment groups) with conditional counters. No window, no
    per-group sort; the exact re-rank is counting, not ordering.
    """
    no_output_collision(
        "qte_by_approx_certificate",
        "group_col",
        group_col,
        ("n_a", "n_b", "n_probs", "within_bound"),
    )
    probs = [float(p) for p in probs]
    if not probs or not all(0.0 <= p <= 1.0 for p in probs):
        raise ValueError("qte_by_approx_certificate: probs in [0, 1]")
    if accuracy < 1:
        raise ValueError("qte_by_approx_certificate: accuracy >= 1")
    if arm_a == arm_b:
        raise ValueError(
            f"qte_by_approx_certificate: arm_a == arm_b ({arm_a!r})"
        )
    va = F.when(F.col(arm_col) == F.lit(arm_a), F.col(value_col))
    vb = F.when(F.col(arm_col) == F.lit(arm_b), F.col(value_col))
    # NaN-as-missing (review r14): a NaN value would count in n_arm
    # (F.count passes NaN) while every `v <= cut` rank comparison is
    # false for it — the exact re-rank would under-count and flag a
    # spurious within_bound=false on a mathematically fine sketch.
    v_ok = F.col(value_col).isNotNull()
    if dict(df.dtypes).get(value_col) in ("double", "float"):
        v_ok = v_ok & ~F.isnan(F.col(value_col))
    base = df.filter(v_ok & F.col(arm_col).isin(arm_a, arm_b))
    sk = base.groupBy(F.col(group_col).alias("__g")).agg(
        F.percentile_approx(va, F.lit(probs), F.lit(int(accuracy)))
        .alias("__qa"),
        F.percentile_approx(vb, F.lit(probs), F.lit(int(accuracy)))
        .alias("__qb"),
    )
    probe = base.join(sk, F.col(group_col).eqNullSafe(F.col("__g")))
    arms = {"a": (va, "__qa"), "b": (vb, "__qb")}
    counters = []
    for tag, (v, qcol) in arms.items():
        counters.append(F.count(v).cast("long").alias(f"n_{tag}"))
        for i in range(len(probs)):
            counters.append(
                F.sum(F.when(v < F.col(qcol)[i], 1).otherwise(0))
                .cast("long").alias(f"__lt_{tag}{i}")
            )
            counters.append(
                F.sum(F.when(v <= F.col(qcol)[i], 1).otherwise(0))
                .cast("long").alias(f"__le_{tag}{i}")
            )
    checked = probe.groupBy("__g").agg(
        *counters,
        *[F.first(F.col(qc)[i]).alias(f"__q_{t}{i}")
          for t, (_, qc) in arms.items() for i in range(len(probs))],
    )
    within = None
    for tag in arms:
        nd = F.col(f"n_{tag}").cast("double")
        eps = F.lit(1.0 / int(accuracy) + 1e-9) + F.lit(1.0) / nd
        for i, p in enumerate(probs):
            lo_ok = (
                F.col(f"__lt_{tag}{i}").cast("double") / nd - F.lit(p)
                <= eps
            )
            hi_ok = (
                F.lit(p) - F.col(f"__le_{tag}{i}").cast("double") / nd
                <= eps
            )
            # An empty arm has no cut (NULL): vacuously within bound
            # iff the arm really is empty — a NULL cut over a
            # non-empty arm is a sketch failure and must read false.
            c = F.when(
                F.col(f"__q_{tag}{i}").isNull(), F.col(f"n_{tag}") == 0
            ).otherwise(lo_ok & hi_ok)
            within = c if within is None else (within & c)
    return checked.select(
        F.col("__g").alias(group_col),
        "n_a", "n_b",
        F.lit(len(probs)).cast("long").alias("n_probs"),
        within.alias("within_bound"),
    )


def msprt_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    tau2: float = 1.0,
    scale: float = 1e6,
) -> DataFrame:
    """Per-segment mixture sequential probability ratio test (mSPRT,
    Johari–Koomen–Pekelis–Walsh 2017) — the ALWAYS-VALID inference
    completion of the experimentation panel: unlike `welch_by`'s
    fixed-horizon t-test, the mSPRT p-value bound survives continuous
    monitoring (peeking) without alpha inflation, which is how
    experiments are actually read.

    Normal-mixture likelihood ratio for the arm contrast
    ``δ̂ = mean_b − mean_a`` with estimator variance
    ``V = var_a/n_a + var_b/n_b`` and mixing prior ``N(0, τ²)``:
    ``Λ = sqrt(V/(V+τ²)) · exp(δ̂²·τ² / (2V(V+τ²)))``, always-valid
    ``p = min(1, 1/Λ)`` — this is the single-look bound; sequential
    use takes the running min of p over looks downstream (the bound
    stays valid at every look by construction). ``tau2`` is in
    squared ORIGINAL units of the outcome.

    Engine-exact like welch_by: per (group, arm) moments are exact
    DECIMAL(38,0) sums of ``round(v·scale)`` with the
    anti-cancellation ``n·ss − s·s`` variance numerator, so Λ and p
    are ONE fixed IEEE expression per group. Thin arms (n < 2) or a
    degenerate V get NULL lam/p (the zscore_by convention). ONE
    group-keyed aggregation — 10k experiments in one scan.

    Returns one row per group:
    (group, n_a, n_b, delta, lam, p_always).
    """
    no_output_collision(
        "msprt_by",
        "group_col",
        group_col,
        ("n_a", "n_b", "delta", "lam", "p_always"),
    )
    if arm_a == arm_b:
        raise ValueError(
            f"msprt_by: arm_a and arm_b are the same value ({arm_a!r})"
        )
    if not tau2 > 0:
        raise ValueError("msprt_by: tau2 must be > 0")
    v = F.col(value_col)
    # NaN-as-missing (review r14, the ADVICE-r13 estimator
    # discipline): NaN passes isNotNull, would COUNT in n_a/n_b yet
    # vanish from the decimal sums (round(NaN)→NULL), silently
    # biasing delta/lam/p — exclude it from the sample entirely.
    v_ok = v.isNotNull()
    if dict(df.dtypes).get(value_col) in ("double", "float"):
        v_ok = v_ok & ~F.isnan(v)
    u = F.round(v * F.lit(float(scale))).cast("decimal(38,0)")
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)

    def _arm(cond, tag):
        zero = F.lit(0).cast("decimal(38,0)")
        return [
            F.coalesce(
                F.sum(F.when(cond, F.lit(1))), F.lit(0)
            ).cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(F.when(cond, u)), zero).alias(f"__s_{tag}"),
            F.coalesce(F.sum(F.when(cond, u * u)), zero).alias(
                f"__ss_{tag}"
            ),
        ]

    m = (
        df.filter(v_ok & (is_a | is_b))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(*_arm(is_a, "a"), *_arm(is_b, "b"))
    )
    sc2 = F.lit(float(scale) * float(scale))

    def _stats(tag):
        n = F.col(f"n_{tag}")
        nd = n.cast("double")
        varnum = _dec38_num(
            "msprt_by", n, F.col(f"__ss_{tag}"), F.col(f"__s_{tag}")
        )
        mean = F.col(f"__s_{tag}").cast("double") / nd
        var = varnum / (nd * (nd - F.lit(1.0)))
        return nd, mean, var

    nda, mean_a, var_a = _stats("a")
    ndb, mean_b, var_b = _stats("b")
    # original units: means /scale, variances /scale^2
    delta = (mean_b - mean_a) / F.lit(float(scale))
    vv = (var_a / nda + var_b / ndb) / sc2
    t2 = F.lit(float(tau2))
    lam = F.sqrt(vv / (vv + t2)) * F.exp(
        delta * delta * t2 / (F.lit(2.0) * vv * (vv + t2))
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (vv > 0)
    return m.select(
        F.col("__g").alias(group_col),
        "n_a", "n_b",
        F.when(
            (F.col("n_a") >= 1) & (F.col("n_b") >= 1), delta
        ).alias("delta"),
        F.when(ok, lam).alias("lam"),
        F.when(
            ok, F.least(F.lit(1.0), F.lit(1.0) / lam)
        ).alias("p_always"),
    )


def conformal_by(
    df: DataFrame,
    segment_col: str,
    score_col: str,
    calib_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction per segment (Vovk et al. 2005;
    Lei et al. 2018): given a nonconformity score column (e.g.
    ``|y − ŷ|`` from any point model) and a boolean calibration-split
    flag, emit per segment the finite-sample-valid conformal cut

    ``q_hat = k-th smallest calibration score``, with
    ``k = (n_cal + 1) − floor((n_cal + 1)·alpha)``
    (= ceil((n_cal + 1)(1 − alpha)), spelled with one shared double
    multiply both engines fold identically),

    plus the EMPIRICAL coverage of ``score ≤ q_hat`` on the held-out
    (non-calibration) rows — the marginal ≥ 1 − alpha guarantee made
    auditable. When ``k > n_cal`` (calibration set too small for the
    requested level) the valid interval is infinite: ``q_hat`` is
    NULL and every test row counts as covered.

    Scale: the k-th order statistic needs a per-segment sort, so the
    plan is ONE scan and ONE segment-keyed exchange: a single window
    pass over ALL rows sorted calibration-first (row_number ranks
    the calibration block, a partition-frame conditional count gives
    n_cal, and a second partition-frame max propagates the rank-k
    score to every row — all three share the one partition spec and
    sort), then one groupBy on the same key (the exchange is
    reused). No join, no second scan, nothing data-sized on the
    driver; ties in score are harmless (any row at rank k carries
    the k-th order-statistic VALUE). NaN scores are missing
    (excluded from calibration AND from the coverage denominator),
    like NULL; NULL calibration flags are excluded.

    Returns one row per segment: (segment, n_cal, q_hat, n_test,
    covered, coverage).
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError(f"conformal_by: alpha must be in (0,1), got {alpha}")
    # temp names can never collide (base selects only aliased
    # columns); the real hazard is a segment column named like a
    # fixed output (review r14b — the grouped-family convention)
    no_output_collision(
        "conformal_by", "segment_col", segment_col,
        ("n_cal", "q_hat", "n_test", "covered", "coverage"),
    )
    seg = F.col(segment_col)
    sc = F.col(score_col)
    valid = sc.isNotNull() & F.col(calib_col).isNotNull()
    if dict(df.dtypes).get(score_col) in ("double", "float"):
        valid = valid & ~F.isnan(sc)
    base = df.filter(valid).select(
        seg.alias("__seg"),
        sc.cast("double").alias("__score"),
        F.col(calib_col).cast("boolean").alias("__cal"),
    )
    # calibration rows first (true > false), then by score: the
    # calibration block gets ranks 1..n_cal in score order
    w = Window.partitionBy("__seg").orderBy(
        F.col("__cal").desc(), F.col("__score")
    )
    wn = Window.partitionBy("__seg").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    a = F.lit(float(alpha))
    ranked = base.select(
        "__seg", "__score", "__cal",
        F.row_number().over(w).alias("__rn"),
        F.coalesce(
            F.sum(F.when(F.col("__cal"), F.lit(1))).over(wn), F.lit(0)
        ).alias("__ncal"),
    )
    # k = (n+1) - floor((n+1)*alpha); both engines evaluate the
    # identical IEEE product, so the cut is cross-engine exact.
    k = (
        F.col("__ncal") + F.lit(1)
        - F.floor((F.col("__ncal") + F.lit(1)).cast("double") * a)
    )
    ranked = ranked.select(
        "__seg", "__score", "__cal", "__ncal",
        F.max(
            F.when(F.col("__cal") & (F.col("__rn") == k), F.col("__score"))
        ).over(wn).alias("__qhat"),
    )
    out = ranked.groupBy("__seg").agg(
        F.max("__ncal").cast("long").alias("n_cal"),
        F.max("__qhat").alias("q_hat"),
        F.count(F.when(~F.col("__cal"), F.lit(1))).alias("n_test"),
        F.count(
            F.when(
                ~F.col("__cal")
                & (
                    F.col("__qhat").isNull()
                    | (F.col("__score") <= F.col("__qhat"))
                ),
                F.lit(1),
            )
        ).alias("covered"),
    )
    return out.select(
        F.col("__seg").alias(segment_col),
        "n_cal", "q_hat", "n_test", "covered",
        F.when(
            F.col("n_test") > 0,
            F.col("covered").cast("double")
            / F.col("n_test").cast("double"),
        ).alias("coverage"),
    )


# Two-sided normal quantiles z_{1-alpha/2} for the group-sequential
# boundary — exact doubles both engines fold identically.
_Z_TWOSIDED = {
    0.10: 1.6448536269514722,   # z_{0.95}
    0.05: 1.9599639845400545,   # z_{0.975}
    0.01: 2.5758293035489004,   # z_{0.995}
}


def group_sequential_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    look_col: str,
    arm_a,
    arm_b,
    alpha: float = 0.05,
    crit: "float | None" = None,
    scale: float = 1e6,
) -> DataFrame:
    """Group-sequential monitoring table per segment — the
    O'Brien–Fleming-SHAPED boundary ladder over K interim looks:
    at look k of K the cumulative Welch z is compared against
    ``b_k = c · sqrt(K / k)`` (early looks need overwhelming
    evidence, the final look spends almost full alpha — the
    classical fixed-schedule complement of `msprt_by`'s always-valid
    p). ``c`` defaults to z_{1-alpha/2} (the conservative
    c ≥ exact-OBF choice; exact O'Brien–Fleming constants from
    standard tables — e.g. 2.004 for K=2, alpha=0.05 — can be
    passed via ``crit``).

    Per (group, look) moments are exact DECIMAL(38,0) sums of
    round(v·scale) (the `welch_by` machinery); CUMULATIVE moments
    come from a window over the cell table — decimal addition is
    exact, so the running sums are order-independent — and z rides
    one fixed IEEE expression. Looks are ordinal: k = the look's
    rank within its group, K = the group's look count; a look
    missing in one group simply isn't a look there. Cumulative arms
    thinner than 2 get NULL z (the `welch_by` thin-segment
    convention); crossed is NULL with them. NaN/NULL values are
    missing; NULL looks are excluded.

    Scale: ONE data-sized shuffle (the (group, look) aggregation
    with map-side partials); the cumulative window and boundary
    expressions run on the segment×look cell table only. Returns
    one row per (group, look): (group, look, k_look, n_looks, n_a,
    n_b, z, boundary, crossed).
    """
    no_output_collision(
        "group_sequential_by", "group_col", group_col,
        ("k_look", "n_looks", "n_a", "n_b", "z", "boundary", "crossed"),
    )
    no_output_collision(
        "group_sequential_by", "look_col", look_col,
        ("k_look", "n_looks", "n_a", "n_b", "z", "boundary", "crossed"),
    )
    if group_col == look_col:
        raise ValueError(
            "group_sequential_by: group_col and look_col are the same"
        )
    if arm_a == arm_b:
        raise ValueError(
            "group_sequential_by: arm_a and arm_b are the same value"
            f" ({arm_a!r})"
        )
    if crit is None:
        if alpha not in _Z_TWOSIDED:
            raise ValueError(
                "group_sequential_by: no built-in critical value for"
                f" alpha={alpha!r} (have {sorted(_Z_TWOSIDED)});"
                " pass crit= explicitly"
            )
        crit = _Z_TWOSIDED[alpha]
    v = F.col(value_col)
    u = F.round(v * F.lit(float(scale))).cast("decimal(38,0)")
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)

    def _arm(cond, tag):
        zero = F.lit(0).cast("decimal(38,0)")
        return [
            F.coalesce(F.sum(F.when(cond, F.lit(1))), F.lit(0))
            .cast("long").alias(f"__n_{tag}"),
            F.coalesce(F.sum(F.when(cond, u)), zero).alias(f"__s_{tag}"),
            F.coalesce(F.sum(F.when(cond, u * u)), zero)
            .alias(f"__ss_{tag}"),
        ]

    cells = (
        df.filter(
            _non_nan(df, value_col)
            & (is_a | is_b)
            & F.col(look_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("__g"), F.col(look_col).alias("__l")
        )
        .agg(*_arm(is_a, "a"), *_arm(is_b, "b"))
    )
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__l")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    word = Window.partitionBy("__g").orderBy("__l")
    cum = cells.select(
        "__g", "__l",
        F.row_number().over(word).alias("k_look"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_looks"),
        *[
            F.sum(f"__{m}_{t}").over(wcum).alias(f"__c{m}_{t}")
            for t in ("a", "b")
            for m in ("n", "s", "ss")
        ],
    )

    def _stats(tag):
        n = F.col(f"__cn_{tag}")
        nd = n.cast("double")
        varnum = _dec38_num(
            "group_sequential_by", n,
            F.col(f"__css_{tag}"), F.col(f"__cs_{tag}"),
        )
        mean = F.col(f"__cs_{tag}").cast("double") / nd
        var = varnum / (nd * (nd - F.lit(1.0)))
        return n, nd, mean, var

    na, nda, mean_a, var_a = _stats("a")
    nb, ndb, mean_b, var_b = _stats("b")
    z = (mean_a - mean_b) / F.sqrt(var_a / nda + var_b / ndb)
    ok = (na >= 2) & (nb >= 2)
    boundary = F.lit(float(crit)) * F.sqrt(
        F.col("n_looks").cast("double")
        / F.col("k_look").cast("double")
    )
    zc = F.when(ok, z)
    return cum.select(
        F.col("__g").alias(group_col),
        F.col("__l").alias(look_col),
        F.col("k_look").cast("long").alias("k_look"),
        "n_looks",
        na.alias("n_a"),
        nb.alias("n_b"),
        zc.alias("z"),
        boundary.alias("boundary"),
        F.when(ok, F.abs(zc) > boundary).alias("crossed"),
    )


def meta_analysis_by(
    df: DataFrame,
    group_col: str,
    est_col: str,
    se_col: str,
) -> DataFrame:
    """Per-group meta-analysis of study/experiment estimates — the
    fixed-effect inverse-variance pool AND the DerSimonian–Laird
    (1986) random-effects pool, the standard way to combine the same
    metric across experiments / cohorts / sites:

    fixed:  w = 1/se², θ_F = Σwθ/Σw, se_F = sqrt(1/Σw)
    Q      = Σwθ² − (Σwθ)²/Σw  (heterogeneity, df = k−1)
    τ²     = max(0, (Q − (k−1)) / (Σw − Σw²/Σw))
    random: w* = 1/(se² + τ²), θ_R = Σw*θ/Σw*, se_R = sqrt(1/Σw*)
    I²     = max(0, (Q − (k−1))/Q)

    Scale: the fixed-effect block and τ² come from ONE group-keyed
    aggregation (Q in its one-pass spelling); the random-effects
    block needs per-study reweighting by the group's τ², so the
    group-sized (group, τ²) table broadcasts back for ONE more
    aggregation — two data passes total, no window, nothing
    data-sized on the driver. Rows with NULL/NaN estimate or a
    non-positive / NULL / NaN se are dropped (listwise); groups with
    k < 2 report the fixed block with NULL Q/τ²/random block.

    Float contract: sums are IEEE doubles (θ and 1/se² have no
    integer representation), so cross-engine hashes need either
    few-study groups or dyadic-exact fixtures — the registered
    oracle uses power-of-two se values, making every product exact
    (the dml_plm_tree2 fixture convention); general inputs carry the
    usual summation-order caveat documented here.

    Returns one row per group: (group, k, theta_fixed, se_fixed, q,
    tau2, i2, theta_random, se_random).
    """
    no_output_collision(
        "meta_analysis_by", "group_col", group_col,
        ("k", "theta_fixed", "se_fixed", "q", "tau2", "i2",
         "theta_random", "se_random"),
    )
    est = F.col(est_col).cast("double")
    se = F.col(se_col).cast("double")
    valid = est.isNotNull() & se.isNotNull() & (se > 0)
    if dict(df.dtypes).get(est_col) in ("double", "float"):
        valid = valid & ~F.isnan(est)
    if dict(df.dtypes).get(se_col) in ("double", "float"):
        valid = valid & ~F.isnan(se)
    base = df.filter(valid).select(
        F.col(group_col).alias("__g"),
        est.alias("__t"),
        (F.lit(1.0) / (se * se)).alias("__w"),
        (se * se).alias("__v"),
    )
    m = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sw2"),
        F.sum(F.col("__w") * F.col("__t")).alias("__swt"),
        F.sum(F.col("__w") * F.col("__t") * F.col("__t")).alias("__swtt"),
    )
    kd = F.col("k").cast("double")
    q = F.col("__swtt") - F.col("__swt") * F.col("__swt") / F.col("__sw")
    denom = F.col("__sw") - F.col("__sw2") / F.col("__sw")
    tau2 = F.greatest(
        F.lit(0.0), (q - (kd - F.lit(1.0))) / denom
    )
    # I2 = 0 at perfect homogeneity (Q = 0), the metafor/Higgins
    # convention — NULL would read as missing-data, not 0%
    # heterogeneity (review r14b second pass); the q > 0 branch also
    # guards the division
    i2 = F.when(
        q > 0, F.greatest(F.lit(0.0), (q - (kd - F.lit(1.0))) / q)
    ).otherwise(F.lit(0.0))
    many = F.col("k") >= 2
    heads = m.select(
        "__g", "k",
        (F.col("__swt") / F.col("__sw")).alias("theta_fixed"),
        F.sqrt(F.lit(1.0) / F.col("__sw")).alias("se_fixed"),
        F.when(many, q).alias("q"),
        F.when(many, tau2).alias("tau2"),
        F.when(many, i2).alias("i2"),
    )
    # eqNullSafe joins: a NULL group key is itself a group (the *_by
    # family convention) and must keep its random-effects block —
    # null-unsafe equality silently dropped it (review r14b second
    # pass)
    h2 = heads.select(
        F.col("__g").alias("__g2"), F.col("tau2").alias("__tau2")
    )
    re = base.join(
        F.broadcast(h2), base["__g"].eqNullSafe(h2["__g2"]), "inner"
    ).filter(F.col("__tau2").isNotNull())
    rstats = re.groupBy("__g").agg(
        F.sum(F.lit(1.0) / (F.col("__v") + F.col("__tau2"))).alias("__rsw"),
        F.sum(
            F.col("__t") / (F.col("__v") + F.col("__tau2"))
        ).alias("__rswt"),
    ).select(
        F.col("__g").alias("__g3"),
        (F.col("__rswt") / F.col("__rsw")).alias("theta_random"),
        F.sqrt(F.lit(1.0) / F.col("__rsw")).alias("se_random"),
    )
    out = heads.join(
        rstats, heads["__g"].eqNullSafe(rstats["__g3"]), "left"
    )
    return out.select(
        F.col("__g").alias(group_col),
        "k", "theta_fixed", "se_fixed", "q", "tau2", "i2",
        "theta_random", "se_random",
    )


def cuped2_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    x1_col: str,
    x2_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Per-group TWO-COVARIATE CUPED (round-15 pre-build) — the
    `cuped_by` adjustment with a second pre-experiment covariate:
    ``theta = Var(X)^{-1} Cov(X, y)`` solved IN-PLAN by the 2×2
    Cramer expressions over exact DECIMAL(38,0) moments (the
    `hausman_iv`/`synthetic_control` closed-form convention — fully
    distributed, no driver solve, SQL-spellable), adjusted contrast
    ``(Δy − θ1·Δx1 − θ2·Δx2)`` and the multi-covariate
    ``rho² = (θ1·C1 + θ2·C2)/S_yy`` (the variance-reduction factor
    1 − rho² of the CUPED model).

    All moments — pooled (for theta/rho²) AND per-arm (for the
    contrast) — ride ONE conditional map-side-combined aggregation
    of ``round(v·scale)`` DECIMAL(38,0) integers; every centered
    numerator is an exact decimal difference via the shared
    `_dec38_num` overflow-guarded spelling. One shared not-NULL/
    not-NaN mask over (y, x1, x2) defines the estimating sample (the
    r13 moment-estimator discipline). Groups with a singular
    covariate Gram (det ≤ 0), zero outcome variance, or an arm
    thinner than 2 get NULL theta/adjusted columns, never a
    poisoned panel. The common ``scale`` cancels in theta and rho²;
    effects are reported in original units.

    Returns one row per group: (group, n_a, n_b, effect_raw,
    effect_adj, theta1, theta2, rho2).
    """
    no_output_collision(
        "cuped2_by", "group_col", group_col,
        ("n_a", "n_b", "effect_raw", "effect_adj",
         "theta1", "theta2", "rho2"),
    )
    if arm_a == arm_b:
        raise ValueError(
            f"cuped2_by: arm_a and arm_b are the same value ({arm_a!r})"
        )
    if len({value_col, x1_col, x2_col}) != 3:
        raise ValueError(
            "cuped2_by: value/x1/x2 columns must be three distinct"
            " columns"
        )
    cols = {"y": value_col, "x1": x1_col, "x2": x2_col}
    mask = F.lit(True)
    for c in cols.values():
        mask = mask & _non_nan(df, c)
    u = {
        t: F.round(F.col(c) * F.lit(float(scale))).cast("decimal(38,0)")
        for t, c in cols.items()
    }
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)
    zero = F.lit(0).cast("decimal(38,0)")

    def _sum(cond, expr, name):
        return F.coalesce(F.sum(F.when(cond, expr)), zero).alias(name)

    pooled = is_a | is_b
    aggs = [
        F.coalesce(F.sum(F.when(pooled, F.lit(1))), F.lit(0))
        .cast("long").alias("n"),
    ]
    for t in ("y", "x1", "x2"):
        aggs.append(_sum(pooled, u[t], f"__s_{t}"))
    for a, b in (("y", "y"), ("x1", "x1"), ("x2", "x2"),
                 ("x1", "x2"), ("x1", "y"), ("x2", "y")):
        aggs.append(_sum(pooled, u[a] * u[b], f"__s_{a}{b}"))
    for tag, cond in (("a", is_a), ("b", is_b)):
        aggs.append(
            F.coalesce(F.sum(F.when(cond, F.lit(1))), F.lit(0))
            .cast("long").alias(f"n_{tag}")
        )
        for t in ("y", "x1", "x2"):
            aggs.append(_sum(cond, u[t], f"__s_{t}_{tag}"))
    m = (
        df.filter(mask)
        .groupBy(F.col(group_col).alias("__g"))
        .agg(*aggs)
    )
    n = F.col("n")
    v11 = _dec38_num("cuped2_by", n, F.col("__s_x1x1"), F.col("__s_x1"))
    v22 = _dec38_num("cuped2_by", n, F.col("__s_x2x2"), F.col("__s_x2"))
    v12 = _dec38_num(
        "cuped2_by", n, F.col("__s_x1x2"), F.col("__s_x1"), F.col("__s_x2")
    )
    c1 = _dec38_num(
        "cuped2_by", n, F.col("__s_x1y"), F.col("__s_x1"), F.col("__s_y")
    )
    c2 = _dec38_num(
        "cuped2_by", n, F.col("__s_x2y"), F.col("__s_x2"), F.col("__s_y")
    )
    syy = _dec38_num("cuped2_by", n, F.col("__s_yy"), F.col("__s_y"))
    det = v11 * v22 - v12 * v12
    th1 = (c1 * v22 - c2 * v12) / det
    th2 = (v11 * c2 - v12 * c1) / det
    rho2 = (th1 * c1 + th2 * c2) / syy
    sc = F.lit(float(scale))

    def _mean(t, tag):
        return (
            F.col(f"__s_{t}_{tag}").cast("double")
            / F.col(f"n_{tag}").cast("double")
        )

    d_y = _mean("y", "b") - _mean("y", "a")
    d_x1 = _mean("x1", "b") - _mean("x1", "a")
    d_x2 = _mean("x2", "b") - _mean("x2", "a")
    thin = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    ok = thin & (det > 0) & (syy > 0)
    return m.select(
        F.col("__g").alias(group_col),
        "n_a", "n_b",
        F.when(
            (F.col("n_a") >= 1) & (F.col("n_b") >= 1), d_y / sc
        ).alias("effect_raw"),
        F.when(ok, (d_y - th1 * d_x1 - th2 * d_x2) / sc)
        .alias("effect_adj"),
        F.when(ok, th1).alias("theta1"),
        F.when(ok, th2).alias("theta2"),
        F.when(ok, rho2).alias("rho2"),
    )


def _beta_lbeta(x: float, y: float) -> float:
    import math

    return math.lgamma(x) + math.lgamma(y) - math.lgamma(x + y)


def _bayes_ab_exact(aA: int, bA: int, aB: int, bB: int) -> float:
    """EXACT ``P(p_B > p_A)`` for Beta(aA,bA) vs Beta(aB,bB) by the
    Cook (2005) closed-form sum in log space, summing over whichever
    arm gives the SHORTER sum (the ``1 − h(swapped)`` identity).
    Driver-side O(min(aA, aB)) loop — `bayes_ab` gates the count
    envelope; callers here must pre-check it."""
    import math

    def _h(a1, b1, a2, b2):
        base = _beta_lbeta(a1, b1)
        total = 0.0
        for i in range(a2):
            total += math.exp(
                _beta_lbeta(a1 + i, b1 + b2)
                - math.log(b2 + i)
                - _beta_lbeta(1 + i, b2)
                - base
            )
        return total

    return _h(aA, bA, aB, bB) if aB <= aA else 1.0 - _h(aB, bB, aA, bA)


def _bayes_ab_normal(aA: int, bA: int, aB: int, bB: int) -> float:
    """Normal approximation to ``P(p_B > p_A)`` on the posterior
    Beta means/variances — the O(1) formula of
    :func:`_bayes_ab_escape`. Error vs exact is O(1/sqrt(min
    posterior n)) where the escape uses it; the pinned property bound
    lives in tests/test_r15_ops.py."""
    import math

    mA, mB = aA / (aA + bA), aB / (aB + bB)
    vA = aA * bA / ((aA + bA) ** 2 * (aA + bA + 1.0))
    vB = aB * bB / ((aB + bB) ** 2 * (aB + bB + 1.0))
    z = (mB - mA) / math.sqrt(vA + vB)
    return 0.5 * math.erfc(-z / math.sqrt(2.0))


def _bayes_ab_escape(aA: int, bA: int, aB: int, bB: int) -> tuple:
    """``(P(p_B > p_A), method)`` without the exact path's
    O(min alpha) loop: what ``bayes_ab`` runs above its count envelope
    and for ``method="normal"``.

    A posterior with only a handful of successes (or failures) is too
    skewed for the normal approximation's bound: on equal arms of
    n = 4,000 with 0-4 successes its error is up to 3.5× it. So when
    the shorter Cook sum — over the alphas, or over the betas by
    ``P(p_B > p_A) = P(1 − p_A > 1 − p_B)`` — has at most
    ``sqrt(min posterior n) / 4`` terms, that sum is taken exactly
    (O(sqrt(n)) work) and the method is ``"exact"``; otherwise it is
    :func:`_bayes_ab_normal` and ``"normal"``. On equal arms (n = 50
    to 40,000, every count ≤ 130 from either end) the largest error
    is then 0.36× the bound. Unequal arms with few successes can
    still exceed it."""
    import math

    k = math.sqrt(min(aA + bA, aB + bB)) / 4
    if min(aA, aB) <= k:
        return _bayes_ab_exact(aA, bA, aB, bB), "exact"
    if min(bA, bB) <= k:
        return _bayes_ab_exact(bB, aB, bA, aA), "exact"
    return _bayes_ab_normal(aA, bA, aB, bB), "normal"


def bayes_ab(
    df: DataFrame,
    arm_col: str,
    success_col: str,
    arm_a,
    arm_b,
    alpha_prior: int = 1,
    beta_prior: int = 1,
    exact_max: int = 200_000,
    method: str = "auto",
) -> DataFrame:
    """Bayesian A/B readout for binary outcomes (round-15
    pre-build): Beta–Binomial posteriors per arm and the EXACT
    probability of superiority ``P(p_b > p_a)`` via the closed-form
    Cook (2005) sum

    ``h(a_A,b_A,a_B,b_B) = Σ_{i=0}^{a_B−1}
      B(a_A+i, b_A+b_B) / ((b_B+i)·B(1+i, b_B)·B(a_A, b_A))``

    evaluated in log space (lgamma), summing over whichever arm
    gives the SHORTER sum (the ``1 − h(swapped)`` identity).

    COUNT ENVELOPE (the scale contract): the exact path is a
    DRIVER-side loop of ``min(alpha_post_a, alpha_post_b)`` lgamma
    terms — O(min successes), NOT distributed. ``exact_max``
    (default 200 000, ~tens of ms) bounds it. ``method=`` picks the
    policy: ``"auto"`` (default) uses exact within the envelope and
    silently escapes to the normal approximation on the posterior
    means/variances above it (the output's method column says
    which); ``"exact"`` RAISES above the envelope instead of
    looping unboundedly or silently approximating; ``"normal"``
    approximates, except that when an arm has only a few successes
    or failures the short Cook sum is taken exactly and the method
    column says ``"exact"`` (see ``_bayes_ab_escape``). The escape's
    error is bounded by ``0.6/sqrt(min posterior n)`` (≈ 1.3e-3 at
    the default envelope boundary; observed ≲ 1e-9 for balanced
    rates there), pinned by a property test over the count×rate
    grid of equal arms (test_r15_ops). Priors
    must be positive integers (the closed form needs an integer sum
    bound).

    Scale: ONE map-side-combined aggregation produces four exact
    integer counters; nothing data-sized moves. Success values must
    be 0/1 (boolean or numeric); anything else RAISES in-plan (the
    `chi2_gof_by` out-of-design convention). NULL successes drop.

    Returns one row: (n_a, s_a, n_b, s_b, mean_a, mean_b,
    p_b_beats_a, method).
    """
    if method not in ("auto", "exact", "normal"):
        raise ValueError(
            f"bayes_ab: unknown method {method!r}"
            " (expected 'auto', 'exact' or 'normal')"
        )
    if (
        int(alpha_prior) != alpha_prior or int(beta_prior) != beta_prior
        or alpha_prior < 1 or beta_prior < 1
    ):
        raise ValueError(
            "bayes_ab: priors must be positive integers (the exact"
            f" sum needs an integer bound; got {alpha_prior!r},"
            f" {beta_prior!r})"
        )
    s = F.col(success_col).cast("double")
    sv = F.when(
        s.isNotNull() & ~s.isin(0.0, 1.0),
        F.raise_error(
            F.concat(
                F.lit("bayes_ab: success value outside {0,1}: "),
                F.col(success_col).cast("string"),
            )
        ).cast("double"),
    ).otherwise(s)
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)
    row = df.filter((is_a | is_b) & s.isNotNull()).agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.coalesce(F.sum(F.when(is_a, sv)), F.lit(0.0))
        .cast("long").alias("s_a"),
        F.count(F.when(is_b, 1)).alias("n_b"),
        F.coalesce(F.sum(F.when(is_b, sv)), F.lit(0.0))
        .cast("long").alias("s_b"),
    ).collect()[0]
    n_a, s_a = int(row["n_a"]), int(row["s_a"])
    n_b, s_b = int(row["n_b"]), int(row["s_b"])
    aA, bA = int(alpha_prior) + s_a, int(beta_prior) + n_a - s_a
    aB, bB = int(alpha_prior) + s_b, int(beta_prior) + n_b - s_b
    exact_ok = min(aB, aA) <= exact_max
    if method == "exact" and not exact_ok:
        raise ValueError(
            "bayes_ab: method='exact' but min(alpha_post) ="
            f" {min(aB, aA)} exceeds exact_max={exact_max} — the Cook"
            " sum is a driver-side loop of that many lgamma terms;"
            " raise exact_max deliberately or use method='auto'/"
            "'normal' (escape error is O(1/sqrt(min posterior n)))"
        )
    if method == "normal" or (method == "auto" and not exact_ok):
        p, method = _bayes_ab_escape(aA, bA, aB, bB)
    else:
        p = _bayes_ab_exact(aA, bA, aB, bB)
        method = "exact"
    spark = df.sparkSession
    return spark.createDataFrame(
        [{
            "n_a": n_a, "s_a": s_a, "n_b": n_b, "s_b": s_b,
            "mean_a": aA / (aA + bA),
            "mean_b": aB / (aB + bB),
            "p_b_beats_a": float(p),
            "method": method,
        }],
        schema=(
            "n_a long, s_a long, n_b long, s_b long, mean_a double,"
            " mean_b double, p_b_beats_a double, method string"
        ),
    )


def wilson_ci_by(
    df: DataFrame,
    group_col: str,
    success_col: str,
    alpha: float = 0.05,
    crit: "float | None" = None,
) -> DataFrame:
    """Per-group Wilson score confidence interval for a proportion
    (round-15 pre-build) — the interval that actually holds its
    coverage at small n and extreme rates, where the Wald
    ``p̂ ± z·sqrt(p̂(1−p̂)/n)`` collapses (zero-width at p̂ ∈ {0,1}):

    ``center = (p̂ + z²/2n) / (1 + z²/n)``,
    ``half   = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)``.

    One map-side-combined aggregation to (n, successes) per group;
    the interval is a fixed IEEE expression over two exact integers
    and the z literal (`_Z_TWOSIDED` for alpha ∈ {0.10, 0.05,
    0.01}; any other level passes its two-sided z explicitly via
    ``crit=`` — the `group_sequential_by` convention; ADVICE r14) —
    fully SQL-spellable. Success values must be 0/1 (boolean or numeric);
    anything else RAISES in-plan (the `chi2_gof_by` convention);
    NULL successes drop; a NULL group is itself a group. Groups
    with n = 0 cannot exist (no rows, no group).

    Returns one row per group: (group, n, successes, p_hat, lo, hi).
    """
    no_output_collision(
        "wilson_ci_by", "group_col", group_col,
        ("n", "successes", "p_hat", "lo", "hi"),
    )
    if crit is None:
        if alpha not in _Z_TWOSIDED:
            raise ValueError(
                "wilson_ci_by: no built-in critical value for"
                f" alpha={alpha!r} (have {sorted(_Z_TWOSIDED)});"
                " pass crit= explicitly"
            )
        crit = _Z_TWOSIDED[alpha]
    z = F.lit(float(crit))
    s = F.col(success_col).cast("double")
    sv = F.when(
        s.isNotNull() & ~s.isin(0.0, 1.0),
        F.raise_error(
            F.concat(
                F.lit("wilson_ci_by: success value outside {0,1}: "),
                F.col(success_col).cast("string"),
            )
        ).cast("double"),
    ).otherwise(s)
    m = (
        df.filter(s.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(sv).cast("long").alias("successes"),
        )
    )
    nd = F.col("n").cast("double")
    p = F.col("successes").cast("double") / nd
    z2n = z * z / nd
    denom = F.lit(1.0) + z2n
    center = (p + z2n / F.lit(2.0)) / denom
    half = z * F.sqrt(
        p * (F.lit(1.0) - p) / nd + z * z / (F.lit(4.0) * nd * nd)
    ) / denom
    return m.select(
        F.col("__g").alias(group_col),
        "n", "successes",
        p.alias("p_hat"),
        (center - half).alias("lo"),
        (center + half).alias("hi"),
    )


def newey_west_by(
    df: DataFrame,
    group_col: str,
    y_col: str,
    x_col: str,
    time_col: str,
    max_lag: int,
) -> DataFrame:
    """Per-group Newey–West (1987) HAC slope inference for the
    simple time-series regression ``y ~ x`` (round-15 pre-build) —
    the autocorrelation-robust completion of the SE family
    (homoskedastic / HC1 / cluster / two-way CGM live in
    `estimate.py`): per group g,

    ``b = S_xy/S_xx``,  ``u_t = x̃_t·ê_t``,
    ``V_HAC = (Γ₀ + 2·Σ_{l≤L} (1 − l/(L+1))·Γ_l) / S_xx²``
    with ``Γ_l = Σ_t u_t·u_{t−l}`` (Bartlett kernel).

    Scale: pass 1 is ONE group-keyed moment aggregation; the
    group-sized (b, x̄, ȳ) table broadcasts back; pass 2 ranks each
    group's series ONCE (a per-group window, never a global sort —
    the `rolling_beta` convention) emitting u and its L lags from a
    single window spec; pass 3 is one group-keyed aggregation of
    the lag products. Works at any row count with per-group
    parallelism; L is a literal. Duplicate time values within a
    group RAISE in-plan (`_dup_order_guard` — the fold order would
    be engine-dependent); NULL/NaN y/x rows drop; a NULL group is
    itself a group. Groups with S_xx ≤ 0 or n ≤ L get NULL
    inference.

    Returns one row per group: (group, n, b, se_hac, se_hc0) —
    se_hc0 is the White sandwich (the L = 0 special case), reported
    so the lag correction is visible in isolation.
    """
    no_output_collision(
        "newey_west_by", "group_col", group_col,
        ("n", "b", "se_hac", "se_hc0"),
    )
    if max_lag < 0:
        raise ValueError(f"newey_west_by: max_lag must be >= 0, got {max_lag}")
    L = int(max_lag)
    yv, xv = F.col(y_col).cast("double"), F.col(x_col).cast("double")
    mask = (
        _non_nan(df, y_col) & _non_nan(df, x_col)
        & F.col(time_col).isNotNull()
    )
    base = df.filter(mask).select(
        F.col(group_col).alias("__g"),
        F.col(time_col).alias("__t"),
        yv.alias("__y"),
        xv.alias("__x"),
    )
    m = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col("__t")).alias("__nt"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sxx_c = F.col("__sxx") - F.col("__sx") * F.col("__sx") / nd
    sxy_c = F.col("__sxy") - F.col("__sx") * F.col("__sy") / nd
    heads = m.select(
        "__g", "n", "__nt",
        F.when(sxx_c > 0, sxy_c / sxx_c).alias("__b"),
        (F.col("__sx") / nd).alias("__mx"),
        (F.col("__sy") / nd).alias("__my"),
        F.when(sxx_c > 0, sxx_c).alias("__sxxc"),
    )
    h2 = heads.select(
        F.col("__g").alias("__g2"), "__b", "__mx", "__my", "n", "__nt"
    )
    scored = base.join(
        F.broadcast(h2), base["__g"].eqNullSafe(h2["__g2"]), "inner"
    ).filter(F.col("__b").isNotNull())
    # duplicate order values make the lag pairing engine-dependent
    u_raw = (F.col("__x") - F.col("__mx")) * (
        F.col("__y") - F.col("__my")
        - F.col("__b") * (F.col("__x") - F.col("__mx"))
    )
    u = _dup_order_guard("newey_west_by", "__g", u_raw)
    w = Window.partitionBy("__g").orderBy("__t")
    lagcols = [
        F.lag("__u", l).over(w).alias(f"__u_{l}") for l in range(1, L + 1)
    ]
    scored = scored.withColumn("_n_ord", F.col("__nt")).select(
        "__g", "__t", u.alias("__u"), F.col("n"),
    ).select("__g", "__u", *lagcols)
    gammas = scored.groupBy("__g").agg(
        F.sum(F.col("__u") * F.col("__u")).alias("__g0"),
        *[
            F.sum(F.col("__u") * F.col(f"__u_{l}")).alias(f"__gl_{l}")
            for l in range(1, L + 1)
        ],
    )
    v_num = F.col("__g0")
    for l in range(1, L + 1):
        wl = F.lit(1.0 - l / (L + 1.0))
        v_num = v_num + F.lit(2.0) * wl * F.coalesce(
            F.col(f"__gl_{l}"), F.lit(0.0)
        )
    g3 = gammas.select(
        F.col("__g").alias("__g3"), F.col("__g0"), v_num.alias("__v")
    )
    # both sides are group-cardinality-sized; broadcast the gamma
    # table so the head join never sort-merges (round 15 plan pin)
    out = heads.join(
        F.broadcast(g3), heads["__g"].eqNullSafe(g3["__g3"]), "left"
    )
    ok = F.col("__b").isNotNull() & (F.col("n") > F.lit(L))
    # Γ0/S_xx² is exactly the White/HC0 sandwich (the L = 0 special
    # case) — reported beside the HAC number so the lag correction
    # is visible in isolation
    return out.select(
        F.col("__g").alias(group_col),
        "n",
        F.when(ok, F.col("__b")).alias("b"),
        F.when(
            ok & (F.col("__v") >= 0),
            F.sqrt(F.col("__v")) / F.col("__sxxc"),
        ).alias("se_hac"),
        F.when(
            ok,
            F.sqrt(
                F.col("__g0") / (F.col("__sxxc") * F.col("__sxxc"))
            ),
        ).alias("se_hc0"),
    )


def cohens_d_by(
    df: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Per-group standardized effect size (round 15) — Cohen's d
    with the Hedges small-sample correction g, the
    practical-significance companion every `welch_by` readout needs
    (a t-statistic says "not noise"; d says "big enough to ship"):

    ``d = (mean_b − mean_a) / s_p``,
    ``s_p² = ((n_a−1)·var_a + (n_b−1)·var_b) / (n_a+n_b−2)``,
    ``g = d·(1 − 3/(4·(n_a+n_b) − 9))`` (Hedges 1981).

    Engine-exact per the `welch_by` convention: per-(group, arm)
    moments are exact DECIMAL(38,0) sums of ``round(v·scale)`` with
    EXACT-decimal variance numerators ``n·ss − s·s`` (`_dec38_num`
    overflow-guarded); d and g are then one fixed IEEE expression
    per group in the SCALED space (the common ``scale`` cancels in
    the ratio), means reported in original units. Groups where
    either arm is thinner than 2 or s_p² ≤ 0 get NULL d/g (the
    `zscore_by` thin-panel convention); a NULL group is itself a
    group; NULL/NaN values drop.

    Scale: ONE map-side-combined aggregation on the group key —
    never a self-join of filtered scans — then row expressions.

    Returns one row per group: (group, n_a, n_b, mean_a, mean_b,
    d, hedges_g) — the correction gets its author's name so a
    caller's ``g`` group column can never collide with it.
    """
    no_output_collision(
        "cohens_d_by", "group_col", group_col,
        ("n_a", "n_b", "mean_a", "mean_b", "d", "hedges_g"),
    )
    if arm_a == arm_b:
        raise ValueError(
            f"cohens_d_by: arm_a and arm_b are the same value ({arm_a!r})"
        )
    u = F.round(F.col(value_col) * F.lit(float(scale))).cast(
        "decimal(38,0)"
    )
    is_a = F.col(arm_col) == F.lit(arm_a)
    is_b = F.col(arm_col) == F.lit(arm_b)

    def _arm(cond, tag):
        zero = F.lit(0).cast("decimal(38,0)")
        return [
            F.coalesce(
                F.sum(F.when(cond, F.lit(1))), F.lit(0)
            ).cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(F.when(cond, u)), zero).alias(f"__s_{tag}"),
            F.coalesce(F.sum(F.when(cond, u * u)), zero).alias(
                f"__ss_{tag}"
            ),
        ]

    m = (
        df.filter(_non_nan(df, value_col) & (is_a | is_b))
        .groupBy(F.col(group_col).alias("__g"))
        .agg(*_arm(is_a, "a"), *_arm(is_b, "b"))
    )

    def _stats(tag):
        n = F.col(f"n_{tag}")
        nd = n.cast("double")
        varnum = _dec38_num(
            "cohens_d_by", n, F.col(f"__ss_{tag}"), F.col(f"__s_{tag}")
        )
        mean = F.col(f"__s_{tag}").cast("double") / nd
        var = varnum / (nd * (nd - F.lit(1.0)))
        return nd, mean, var

    nda, mean_a, var_a = _stats("a")
    ndb, mean_b, var_b = _stats("b")
    sp2 = (
        (nda - F.lit(1.0)) * var_a + (ndb - F.lit(1.0)) * var_b
    ) / (nda + ndb - F.lit(2.0))
    d = (mean_b - mean_a) / F.sqrt(sp2)
    g = d * (
        F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * (nda + ndb) - F.lit(9.0))
    )
    sc = F.lit(float(scale))
    thin = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    ok = thin & (sp2 > 0)
    return m.select(
        F.col("__g").alias(group_col),
        "n_a", "n_b",
        F.when(F.col("n_a") >= 1, mean_a / sc).alias("mean_a"),
        F.when(F.col("n_b") >= 1, mean_b / sc).alias("mean_b"),
        F.when(ok, d).alias("d"),
        F.when(ok, g).alias("hedges_g"),
    )


def local_projections(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    y_col: str,
    x_col: str,
    max_horizon: int,
) -> DataFrame:
    """Jordà (2005) local-projection impulse responses (round-16
    pre-build) — the regression-per-horizon alternative to a full
    VAR for dynamic effects: for each horizon ``h = 0..H``, the
    pooled OLS slope of the LED outcome on today's shock,

    ``y_{i,t+h} = a_h + b_h·x_{i,t} + e``  →  IRF(h) = b_h,

    with per-horizon homoskedastic inference. Each horizon's
    estimating sample is exactly the (base, lead) pairs where BOTH
    ends are valid (the `make_lags` boundary convention), so n
    shrinks with h — reported per row.

    Scale: ONE per-entity window pass emits all H+1 leads from a
    single window spec (never a global sort — the `rolling_beta`
    convention; duplicate time values within an entity RAISE via an
    inline sorted-adjacency guard — the `_dup_order_guard` contract
    re-spelled for lead pairing with O(1) window state), then ONE
    ungrouped map-side-combined aggregation carries every horizon's
    conditional (n, Σx, Σy, Σx², Σxy, Σy²) block; the closed-form
    slope/intercept/se per horizon is a fixed IEEE expression over
    those scalars (the `group_ols` spelling), so a SQL oracle
    mirrors it literally. Long-form output keeps every
    driver-compared value scalar. NULL contract: a row with
    NULL/NaN x or y KEEPS ITS POSITION on the entity's time axis
    but contributes to no pair — filtering it out before the window
    would silently pair y_{t+h+1} as the "h-step" lead across the
    gap and bias every IRF (review r15); NULL-time rows drop
    entirely (they have no position).

    Returns one row per horizon: (horizon, n, b, intercept, se).
    """
    if max_horizon < 0:
        raise ValueError(
            f"local_projections: max_horizon must be >= 0, got"
            f" {max_horizon}"
        )
    H = int(max_horizon)
    xv, yv = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    base = df.filter(F.col(time_col).isNotNull()).select(
        F.col(entity_col).alias("__e"),
        F.col(time_col).alias("__t"),
        F.when(_non_nan(df, x_col), xv).alias("__x"),
        F.when(_non_nan(df, y_col), yv).alias("__y"),
    )
    w = Window.partitionBy("__e").orderBy("__t")
    nw = Window.partitionBy("__e")
    # duplicate-time detection rides the SAME sorted window: equal
    # neighbours in sort order catch every duplicate with O(1) state
    # (a DISTINCT window aggregate is unsupported and a collect_set
    # would hold the entity's whole time axis per partition)
    dup = F.max(
        F.when(F.lag("__t").over(w).eqNullSafe(F.col("__t")), 1)
        .otherwise(0)
    ).over(nw)
    led = base.select(
        "__e", "__x",
        dup.alias("__dup"),
        *[
            F.lead("__y", h).over(w).alias(f"__y{h}")
            for h in range(H + 1)
        ],
    )
    guarded = F.when(
        F.col("__dup") == 1,
        F.raise_error(
            F.concat(
                F.lit("local_projections: duplicate order values"
                      " within key "),
                F.col("__e").cast("string"),
                F.lit(" — the lead pairing would be"
                      " engine-dependent"),
            )
        ).cast("double"),
    ).otherwise(F.col("__x"))
    led = led.select(
        guarded.alias("__x"),
        *[F.col(f"__y{h}") for h in range(H + 1)],
    )
    aggs = []
    for h in range(H + 1):
        yh = F.col(f"__y{h}")
        has = yh.isNotNull() & F.col("__x").isNotNull()
        aggs += [
            F.count(F.when(has, 1)).alias(f"n_{h}"),
            F.coalesce(F.sum(F.when(has, F.col("__x"))), F.lit(0.0))
            .alias(f"sx_{h}"),
            F.coalesce(F.sum(F.when(has, yh)), F.lit(0.0))
            .alias(f"sy_{h}"),
            F.coalesce(
                F.sum(F.when(has, F.col("__x") * F.col("__x"))),
                F.lit(0.0),
            ).alias(f"sxx_{h}"),
            F.coalesce(F.sum(F.when(has, F.col("__x") * yh)),
                       F.lit(0.0)).alias(f"sxy_{h}"),
            F.coalesce(F.sum(F.when(has, yh * yh)), F.lit(0.0))
            .alias(f"syy_{h}"),
        ]
    m = led.agg(*aggs)
    rows = []
    for h in range(H + 1):
        n = F.col(f"n_{h}")
        nd = n.cast("double")
        vx = nd * F.col(f"sxx_{h}") - F.col(f"sx_{h}") * F.col(f"sx_{h}")
        cxy = nd * F.col(f"sxy_{h}") - F.col(f"sx_{h}") * F.col(f"sy_{h}")
        vy = nd * F.col(f"syy_{h}") - F.col(f"sy_{h}") * F.col(f"sy_{h}")
        b = cxy / vx
        a = (F.col(f"sy_{h}") - b * F.col(f"sx_{h}")) / nd
        # centered rss in the n-scaled space: (vy - b*cxy)/n
        rss = (vy - b * cxy) / nd
        var_b = (rss / (nd - F.lit(2.0))) / (vx / nd)
        ok = (n >= 3) & (vx > 0)
        okse = ok & (vy - b * cxy >= 0)
        rows.append(F.struct(
            F.lit(h).cast("long").alias("horizon"),
            n.cast("long").alias("n"),
            F.when(ok, b).alias("b"),
            F.when(ok, a).alias("intercept"),
            F.when(okse, F.sqrt(var_b)).alias("se"),
        ))
    return m.select(
        F.explode(F.array(*rows)).alias("__r")
    ).select("__r.horizon", "__r.n", "__r.b", "__r.intercept", "__r.se")


def granger_by(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    y_col: str,
    x_col: str,
    scale: float = 1e6,
) -> DataFrame:
    """Per-entity Granger (1969) causality test at lag 1 (round-16
    pre-build) — "does yesterday's x help predict today's y beyond
    yesterday's y?", the panel screening primitive for lead-lag
    structure (metric A moves before metric B) that `cross_corr`
    hints at and this op tests formally:

    unrestricted: ``y_t = a + ρ·y_{t−1} + β·x_{t−1} + e``
    restricted:   ``y_t = a + ρ·y_{t−1} + e``
    ``F = (RSS_r − RSS_u) / (RSS_u / (n−3))``  (1 numerator dof).

    Lag 1 keeps BOTH fits closed-form — the 2×2 Cramer system on
    centered regressors (the `mediation_by` convention) — so the
    whole panel is two window columns and ONE group-keyed
    aggregation of exact DECIMAL(38,0) moments of
    ``round(v·scale)`` (`_dec38_num`-guarded numerators); F per
    entity is a fixed IEEE expression a SQL oracle replays
    literally. Higher lag orders need a k×k solve — out of scope by
    design (the `dml_plm` single-learner precedent).

    Scale: one per-entity window pass (two lags from ONE window
    spec, sorted-adjacency duplicate-time RAISE with O(1) state —
    the `local_projections` guard), one exact-decimal aggregation.
    NULL contract: a triple (y_t, y_{t−1}, x_{t−1}) with any
    NULL/NaN member contributes to neither fit (both fits share ONE
    estimating sample — the r13 moment discipline); rows keep their
    time-axis position (the `local_projections` gap rule);
    NULL-time rows drop. Entities with n < 5, a singular
    unrestricted Gram, or zero restricted variance get NULL
    inference.

    Returns one row per entity: (entity, n, rho, beta, f_stat).
    """
    no_output_collision(
        "granger_by", "entity_col", entity_col,
        ("n", "rho", "beta", "f_stat"),
    )
    yv, xv = F.col(y_col).cast("double"), F.col(x_col).cast("double")
    base = df.filter(F.col(time_col).isNotNull()).select(
        F.col(entity_col).alias("__e"),
        F.col(time_col).alias("__t"),
        F.when(_non_nan(df, y_col), yv).alias("__y"),
        F.when(_non_nan(df, x_col), xv).alias("__x"),
    )
    w = Window.partitionBy("__e").orderBy("__t")
    nw = Window.partitionBy("__e")
    dup = F.max(
        F.when(F.lag("__t").over(w).eqNullSafe(F.col("__t")), 1)
        .otherwise(0)
    ).over(nw)
    lagged = base.select(
        "__e",
        F.when(
            dup == 1,
            F.raise_error(
                F.concat(
                    F.lit("granger_by: duplicate order values within"
                          " key "),
                    F.col("__e").cast("string"),
                    F.lit(" — the lag pairing would be"
                          " engine-dependent"),
                )
            ).cast("double"),
        ).otherwise(F.col("__y")).alias("__y"),
        F.lag("__y", 1).over(w).alias("__y1"),
        F.lag("__x", 1).over(w).alias("__x1"),
    )
    ok_row = (
        F.col("__y").isNotNull() & F.col("__y1").isNotNull()
        & F.col("__x1").isNotNull()
    )
    u = {
        "y": F.round(F.col("__y") * F.lit(float(scale)))
        .cast("decimal(38,0)"),
        "a": F.round(F.col("__y1") * F.lit(float(scale)))
        .cast("decimal(38,0)"),
        "b": F.round(F.col("__x1") * F.lit(float(scale)))
        .cast("decimal(38,0)"),
    }
    zero = F.lit(0).cast("decimal(38,0)")
    aggs = [F.count(F.when(ok_row, 1)).alias("n")]
    for k in ("y", "a", "b"):
        aggs.append(
            F.coalesce(F.sum(F.when(ok_row, u[k])), zero)
            .alias(f"__s_{k}")
        )
    for p, q_ in (("y", "y"), ("a", "a"), ("b", "b"),
                  ("a", "b"), ("a", "y"), ("b", "y")):
        aggs.append(
            F.coalesce(F.sum(F.when(ok_row, u[p] * u[q_])), zero)
            .alias(f"__s_{p}{q_}")
        )
    m = lagged.groupBy(F.col("__e").alias(entity_col)).agg(*aggs)
    n = F.col("n")
    nd = n.cast("double")
    saa = _dec38_num("granger_by", n, F.col("__s_aa"), F.col("__s_a"))
    sbb = _dec38_num("granger_by", n, F.col("__s_bb"), F.col("__s_b"))
    syy = _dec38_num("granger_by", n, F.col("__s_yy"), F.col("__s_y"))
    sab = _dec38_num(
        "granger_by", n, F.col("__s_ab"), F.col("__s_a"), F.col("__s_b")
    )
    say = _dec38_num(
        "granger_by", n, F.col("__s_ay"), F.col("__s_a"), F.col("__s_y")
    )
    sby = _dec38_num(
        "granger_by", n, F.col("__s_by"), F.col("__s_b"), F.col("__s_y")
    )
    det = saa * sbb - sab * sab
    rho = (say * sbb - sby * sab) / det
    beta = (saa * sby - sab * say) / det
    # centered RSS identities in the n-scaled space (shared scale
    # cancels in F): RSS_u = syy − rho·say − beta·sby;
    # RSS_r = syy − say²/saa
    rss_u = syy - rho * say - beta * sby
    rss_r = syy - say * say / saa
    f_ = (rss_r - rss_u) / (rss_u / (nd - F.lit(3.0)))
    ok = (n >= 5) & (det > 0) & (saa > 0)
    okf = ok & (rss_u > 0)
    return m.select(
        entity_col,
        n.cast("long").alias("n"),
        F.when(ok, rho).alias("rho"),
        F.when(ok, beta).alias("beta"),
        F.when(okf, f_).alias("f_stat"),
    )
