"""Exact global rank, exact NTILE, and exact running totals —
distributed.

Spark's own ``row_number()``/``ntile()`` over a global ``ORDER BY``
(an empty window PARTITION BY) plan a **single-partition WindowExec**:
every row of a 100 TB table funnels through one task. This module
computes the identical exact answer with the classic two-phase
sort-then-offset layout (what ``RDD.sortByKey`` + ``zipWithIndex``
do, re-expressed on DataFrames):

1. **Range-partition + local sort** on the total order
   (``repartitionByRange`` → ``sortWithinPartitions``) — one shuffle,
   all partitions sorted and mutually ordered. The result is pinned
   with ``localCheckpoint`` so phases 2-3 see the SAME partitioning
   (range boundaries come from a nondeterministic sample job; an
   unpinned plan could re-sample between jobs). The checkpoint is
   lazy: the sample and the shuffle run when it is built, and the
   first job that reads it (phase 2's collect) stores its blocks, so
   no job is spent on the checkpoint alone.
2. **Per-partition counts → driver** — ``n_partitions`` longs, never
   data — cumulated into start offsets.
3. **Narrow rank reconstruction**: within a pinned sorted partition,
   ``monotonically_increasing_id()`` is ``pid << 33 | local_row`` in
   scan order, so ``rank = offset[pid] + local_row + 1`` is a pure
   projection plus one broadcast join of the tiny offset table. No
   second shuffle, no Window operator anywhere in the plan.

``exact_ntile`` then maps ranks to SQL NTILE semantics in closed form
— the first ``N % k`` tiles hold ``N div k + 1`` rows, the rest
``N div k`` — identical to the single-task
``ntile(k) OVER (ORDER BY ...)`` answer, which is what the driver's
DuckDB oracle hash-checks.

``prefix_sum`` is the same layout with per-partition SUMS shipped to
the driver instead of counts, plus a partition-LOCAL window cumsum
(PARTITION BY the range-partition id — parallel across partitions,
never the one-task global frame ``SUM() OVER (ORDER BY ...)`` plans).
Its offsets ride in the plan as one array literal indexed by the
partition id, so no offset table is broadcast. It takes several
value columns at once, all on one sort and one collect.

The order columns must form a TOTAL order (include a unique tiebreak,
e.g. a key column) — ties across a range-partition boundary would
otherwise make ranks depend on partition placement.
"""

from __future__ import annotations

import decimal
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfe_spark.operators._guards import no_output_collision

_PID_SHIFT = 33  # monotonically_increasing_id packs pid << 33 | row


def shuffle_partitions(spark, default: int = 200) -> int:
    """The session's shuffle-partition count as an int, tolerating
    platforms whose forks set ``spark.sql.shuffle.partitions`` to
    the non-numeric ``"auto"`` (review r11) — shared by every
    operator that sizes an explicit repartition from the conf."""
    try:
        return int(
            spark.conf.get("spark.sql.shuffle.partitions", str(default))
        )
    except ValueError:
        return default


def _pinned_sorted(
    df: DataFrame, order_by: Sequence[str], num_partitions: int | None
) -> DataFrame:
    """Phase 1: range-partition + local sort + scan-order ``__mid``,
    pinned so later jobs see one consistent partitioning (range
    boundaries come from a nondeterministic sample job). Lazy: the
    first job that reads the result stores it."""
    cols = [F.col(c) for c in order_by]
    if num_partitions is None:
        num_partitions = shuffle_partitions(df.sparkSession)
    return (
        df.repartitionByRange(num_partitions, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )


def _pid() -> Column:
    return F.shiftright(F.col("__mid"), _PID_SHIFT)


def global_rank_with_total(
    df: DataFrame,
    order_by: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> "tuple[DataFrame, int]":
    """`global_rank` plus the exact total row count as a second
    return value — the per-partition counts the offset phase already
    collects sum to it, so callers that would otherwise run a second
    full ``count()`` job over the ranked output (`_blocked_series`,
    `exact_ntile` — advice r12) get the total for free."""
    spark = df.sparkSession
    pinned = _pinned_sorted(df, order_by, num_partitions)
    pid = _pid().alias("__pid")
    local = F.col("__mid").bitwiseAND(F.lit((1 << _PID_SHIFT) - 1))
    counts = sorted(
        (r["__pid"], r["n"])
        for r in pinned.select(pid).groupBy("__pid").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    )
    offsets, acc = [], 0
    for p, n in counts:
        offsets.append((p, acc))
        acc += n
    off = F.broadcast(
        spark.createDataFrame(offsets, "__pid long, __off long")
    )
    ranked = (
        pinned.withColumn("__pid", pid)
        .join(off, "__pid")
        .withColumn(rank_col, F.col("__off") + local + 1)
        .drop("__pid", "__off", "__mid")
    )
    return ranked, acc


def global_rank(
    df: DataFrame,
    order_by: Sequence[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add an exact 1-based global ``rank_col`` with ``row_number``
    semantics (offset + local position) under the REQUIRED total
    order ``order_by`` — it equals ``rank``/``dense_rank`` only
    because the order is total (no ties); with a tied ordering the
    result is neither dense_rank nor deterministic, which is why the
    module contract demands a unique tiebreak column. Computed
    without a single-partition sort: see module docstring for the
    three-phase plan; cost is one range shuffle + one pinned
    materialization, vs. WindowExec's one-task funnel."""
    ranked, _ = global_rank_with_total(
        df, order_by, rank_col=rank_col, num_partitions=num_partitions
    )
    return ranked


def exact_ntile(
    df: DataFrame,
    order_by: Sequence[str],
    n_tiles: int,
    tile_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL-NTILE tile assignment under a total order, with no
    Window operator in the plan. Hash-matches
    ``ntile(n) OVER (ORDER BY ...)`` on any engine."""
    ranked, total = global_rank_with_total(
        df, order_by, rank_col="__rank", num_partitions=num_partitions
    )
    # SQL NTILE semantics: the first N % k tiles hold one row MORE
    # (all big tiles first — not the Bresenham even spread). Integer
    # `div`, not float `/`+cast: exact at any rank magnitude.
    base, rem = total // n_tiles, total % n_tiles
    big = rem * (base + 1)  # rows covered by the (base+1)-sized tiles
    tile = (
        F.when(
            F.col("__rank") <= big,
            F.expr(f"(__rank - 1) div {base + 1} + 1"),
        ).otherwise(F.expr(f"(__rank - 1 - {big}) div {base} + {rem} + 1"))
        if base
        else F.col("__rank")  # N < k: one row per tile, rank IS the tile
    )
    return ranked.withColumn(tile_col, tile.cast("long")).drop("__rank")


def prefix_sum(
    df: DataFrame,
    order_by: Sequence[str],
    value_col: "str | Sequence[str]",
    out_col: "str | Sequence[str]" = "cumsum",
    num_partitions: int | None = None,
    allow_float: bool = False,
) -> DataFrame:
    """Exact running total of ``value_col`` over the total order
    ``order_by``, distributed — the answer of
    ``SUM(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`` without
    its single-partition WindowExec.

    ``value_col`` may be a sequence of columns, with ``out_col`` the
    matching sequence of output names: every running total then
    rides the SAME range sort, ``localCheckpoint`` and collect of
    per-partition sums, so k totals cost what one does.

    Phase 2 ships per-partition sums (``n_partitions`` scalars per
    value column) to the driver; phase 3 adds the per-partition start
    offset (an array literal) to a partition-LOCAL cumulative sum
    (window PARTITION BY the range-partition id, ORDER BY the
    scan-order ``__mid`` — parallel, each task bounded by one range
    partition).

    Use an integer (or DECIMAL) ``value_col`` when cross-engine
    hash-exactness matters: float addition is non-associative, so the
    blocked driver-side offset accumulation can differ from a
    sequential engine's last-bit rounding. Float/double value columns
    therefore RAISE unless ``allow_float=True`` (mirroring the bloom
    key-dtype guard): a silently-inexact running total is how
    hash-verified pipelines drift.

    The offsets are typed as Spark's OWN sum result
    type (long for any integral input, scale-preserving widened
    decimal for DecimalType), NOT ``value_col``'s type: cumulative
    offsets of an int32 column exceed int32 range once the corpus
    total passes 2^31 — exactly the overflow `pack_sequences` would
    inherit at 100 TB token counts."""
    values = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(outs) != len(values):
        raise ValueError(
            f"prefix_sum: {len(values)} value columns but"
            f" {len(outs)} output columns"
        )
    off_types, acc = [], []
    for v in values:
        vtype = df.schema[v].dataType
        if isinstance(vtype, (T.FloatType, T.DoubleType)):
            if not allow_float:
                raise ValueError(
                    f"prefix_sum: value_col {v!r} is "
                    f"{vtype.simpleString()}; float addition is "
                    "non-associative so the distributed running total"
                    " is not bit-exact. Use an integer/decimal column"
                    " (cents, micros) or pass allow_float=True to"
                    " accept last-bit drift."
                )
            off_types.append("double")
            acc.append(0.0)
        elif isinstance(vtype, T.DecimalType):
            # Spark's sum() widens DECIMAL(p,s) -> DECIMAL(min(38,p+10),s).
            off_types.append(
                f"decimal({min(38, vtype.precision + 10)},{vtype.scale})"
            )
            acc.append(decimal.Decimal(0))
        elif isinstance(
            vtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            off_types.append("long")
            acc.append(0)
        else:
            raise ValueError(
                f"prefix_sum: unsupported value_col type"
                f" {vtype.simpleString()}"
            )
    pinned = _pinned_sorted(df, order_by, num_partitions)
    sums = {
        r[0]: r[1:]
        for r in pinned.select(_pid().alias("__pid"), *values)
        .groupBy("__pid")
        .agg(*[F.sum(v) for v in values])
        .collect()
    }
    # offsets[p] = the running totals before range partition p, as
    # one array literal per value column (empty partitions, absent
    # from `sums`, add nothing)
    offsets = []
    for p in range(max(sums, default=-1) + 1):
        offsets.append(acc)
        part = sums.get(p, [None] * len(values))
        acc = [a + (x if x is not None else 0) for a, x in zip(acc, part)]
    w = (
        Window.partitionBy("__pid")
        .orderBy("__mid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pinned.withColumn("__pid", _pid())
        .withColumns(
            {
                o: F.element_at(
                    F.lit([off[i] for off in offsets]).cast(f"array<{t}>"),
                    (F.col("__pid") + 1).cast("int"),
                )
                + F.sum(v).over(w)
                for i, (o, v, t) in enumerate(zip(outs, values, off_types))
            }
        )
        .drop("__pid", "__mid")
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    pcts: "Sequence[int]" = (25, 50, 75),
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact weighted lower quantiles: for each integer percentile p
    the smallest value v with cum_weight(v) * 100 >= p * W — token-
    budget planning's workhorse ("which doc-length cutoff keeps 90%
    of the token mass?"), where every row counts ``weight_col``
    times (tokens, bytes, impressions).

    Exactness: weights must be INTEGRAL (float weights raise — the
    `prefix_sum` convention); cumulative weights come from the
    distributed exact prefix sum over DISTINCT values (|V| cells,
    never a row sort, no single-partition WindowExec), and the
    threshold test cross-multiplies (cumw*100 vs p*W) so no
    division ever happens — bit-portable on any engine. One
    aggregation + the prefix-sum pass + one |V|-cell reduction.
    Returns one row per percentile: pct, value, plus the covered
    cumulative weight."""
    pcts = [int(p) for p in pcts]
    if not pcts or not all(0 < p <= 100 for p in pcts):
        raise ValueError("weighted_quantiles: pcts must be in (0, 100]")
    wtype = df.schema[weight_col].dataType
    if isinstance(wtype, (T.FloatType, T.DoubleType)) or (
        isinstance(wtype, T.DecimalType) and wtype.scale > 0
    ):
        raise ValueError(
            f"weighted_quantiles: weight_col {weight_col!r} is "
            f"{wtype.simpleString()}; exact cumulative weights need "
            "integral weights (quantize upstream)"
        )
    cells = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(weight_col).isNotNull()
        )
        .groupBy(value_col)
        .agg(
            F.sum(F.col(weight_col)).cast("long").alias("__w"),
            F.min(F.col(weight_col)).cast("long").alias("__minw"),
        )
    )
    # total from the cheap pre-prefix-sum cells (summing the
    # prefix_sum OUTPUT would execute its whole distributed
    # pipeline twice for one scalar); min(weight) rides the same
    # reduction — negative weights make the cumulative sum
    # non-monotone, so "smallest value crossing p% of W" is undefined
    w_tot, w_min = cells.agg(
        F.sum("__w").cast("long"), F.min("__minw")
    ).collect()[0]
    if w_min is not None and w_min < 0:
        raise ValueError(
            f"weighted_quantiles: negative weight {w_min} in "
            f"{weight_col!r}; cumulative weights must be monotone"
        )
    if not w_tot:
        raise ValueError("weighted_quantiles: zero total weight")
    cells = cells.drop("__minw")
    cum = prefix_sum(
        cells, [value_col], "__w", out_col="__cumw",
        num_partitions=num_partitions,
    )
    # DECIMAL(38,0) comparison: cumw*100 and p*W overflow int64 once
    # total weight passes ~9.2e16 (the ks_2sample d_num class); the
    # oracle side is HUGEINT, so the Spark side must widen too
    cumw_dec = F.col("__cumw").cast("decimal(38,0)")
    aggs = []
    for p in pcts:
        thresh = F.lit(str(p * int(w_tot))).cast("decimal(38,0)")
        hit = cumw_dec * F.lit(100) >= thresh
        aggs.append(
            F.min(F.when(hit, F.col(value_col))).alias(f"__q{p}")
        )
        aggs.append(
            F.min(F.when(hit, F.col("__cumw"))).alias(f"__c{p}")
        )
    row = cum.agg(*aggs)
    structs = [
        F.struct(
            F.lit(p).cast("long").alias("pct"),
            F.col(f"__q{p}").alias("value"),
            F.col(f"__c{p}").cast("long").alias("cum_weight"),
        )
        for p in pcts
    ]
    return row.select(F.inline(F.array(*structs)))


def grouped_weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    pcts: "Sequence[int]" = (25, 50, 75),
) -> DataFrame:
    """Per-GROUP exact weighted lower quantiles: for every group and
    integer percentile p, the smallest value v whose within-group
    cumulative weight satisfies cum_weight(v)*100 >= p*W_g — the
    stratified form of `weighted_quantiles` ("which doc-length
    cutoff keeps 90% of each LANGUAGE's token mass?").

    Where the global operator needs the distributed `prefix_sum` (a
    single total order), the grouped form's running weights
    partition naturally: one window pass PARTITION BY group ORDER BY
    value over the (group, value) cell table — parallel across
    groups, each task bounded by one group's distinct values, no
    single-partition WindowExec anywhere. Same exactness contract:
    integral weights enforced (float and fractional-DECIMAL weight
    columns raise), negative weights raise, and the threshold test
    cross-multiplies exact integers widened to DECIMAL(38,0) — no
    division, bit-portable on any engine. Groups whose TOTAL weight
    is zero are ABSENT from the output (a quantile of a zero-mass
    distribution is undefined — the grouped analogue of the global
    operator's zero-total-weight raise; without the filter the
    0*100 >= p*0 comparison would emit the group's smallest value
    as every quantile).

    Plan: one groupBy to cells, one partitioned window, one
    per-(group, pct) min-reduction. Returns one row per (group,
    pct) with a nonempty, nonzero-weight group: group, pct, value,
    cum_weight."""
    pcts = [int(p) for p in pcts]
    if not pcts or not all(0 < p <= 100 for p in pcts):
        raise ValueError(
            "grouped_weighted_quantiles: pcts must be in (0, 100]"
        )
    wtype = df.schema[weight_col].dataType
    if isinstance(wtype, (T.FloatType, T.DoubleType)) or (
        isinstance(wtype, T.DecimalType) and wtype.scale > 0
    ):
        raise ValueError(
            f"grouped_weighted_quantiles: weight_col {weight_col!r} "
            f"is {wtype.simpleString()}; exact cumulative weights "
            "need integral weights (quantize upstream)"
        )
    cells = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(weight_col).isNotNull()
        )
        .groupBy(group_col, value_col)
        .agg(
            F.sum(F.col(weight_col)).cast("long").alias("__w"),
            F.min(F.col(weight_col)).cast("long").alias("__minw"),
        )
    )
    neg = cells.agg(F.min("__minw")).collect()[0][0]
    if neg is not None and neg < 0:
        raise ValueError(
            f"grouped_weighted_quantiles: negative weight {neg} in "
            f"{weight_col!r}; cumulative weights must be monotone"
        )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(group_col)
    cum = cells.select(
        group_col,
        value_col,
        F.sum("__w").over(w).cast("decimal(38,0)").alias("__cumw"),
        F.sum("__w").over(wg).cast("decimal(38,0)").alias("__wtot"),
    ).filter(F.col("__wtot") > 0)
    aggs = []
    for p in pcts:
        hit = F.col("__cumw") * F.lit(100) >= F.lit(p) * F.col("__wtot")
        aggs.append(
            F.min(F.when(hit, F.col(value_col))).alias(f"__q{p}")
        )
        aggs.append(
            F.min(F.when(hit, F.col("__cumw"))).alias(f"__c{p}")
        )
    g = cum.groupBy(group_col).agg(*aggs)
    structs = [
        F.struct(
            F.lit(p).cast("long").alias("pct"),
            F.col(f"__q{p}").alias("value"),
            F.col(f"__c{p}").cast("long").alias("cum_weight"),
        )
        for p in pcts
    ]
    return g.select(group_col, F.inline(F.array(*structs)))


def grouped_quantiles_approx(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group SKETCH quantiles (``percentile_approx``,
    Greenwald-Khanna-style rank error <= 1/accuracy) — the
    bounded-memory scale path for billion-row groups, where the
    exact ``percentile`` (which sorts each group inside its
    aggregation buffer — the `grouped_quantiles` / `winsorize_by`
    audit path) no longer fits a task. One aggregation; sketch
    memory is O(accuracy * log n) per group regardless of group
    size. Returns one row per group: (group, n, q0..q{k-1}).

    The sketch's returned VALUES can legally vary with partition
    merge order, so they are not oracle-hashable — the registered
    driver query is `grouped_quantiles_approx_certificate`, which
    re-ranks every returned value exactly in a second scan and
    checks the per-group GK bound (the `approx_quantiles`
    convention, stratified)."""
    probs = [float(p) for p in probs]
    if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(
            "grouped_quantiles_approx: probs must be in [0, 1]"
        )
    if accuracy < 1:
        raise ValueError("grouped_quantiles_approx: accuracy >= 1")
    no_output_collision(
        "grouped_quantiles_approx",
        "group_col",
        group_col,
        ("n", *[f"q{i}" for i in range(len(probs))]),
    )
    agg = df.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(group_col).alias("__g")
    ).agg(
        F.percentile_approx(
            value_col, F.lit(probs), F.lit(int(accuracy))
        ).alias("__qv"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        *[
            F.col("__qv")[i].alias(f"q{i}")
            for i in range(len(probs))
        ],
    )


def grouped_quantiles_approx_certificate(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group accuracy certificate for
    `grouped_quantiles_approx`: every group's returned value is
    re-ranked EXACTLY in a second scan and its tie-robust rank
    interval [#{x < v}, #{x <= v}] / n_g must intersect
    [p - eps, p + eps] with eps = 1/accuracy (+1/n_g discreteness
    + fp slack) — the GK guarantee, checked per group. Emits only
    scale-stable facts: (group, n, n_probs, within_bound); sketch
    values never appear in the output (their exact bits can vary
    with partition merge order).

    Scale: two scans — the sketch aggregation, then one join of the
    group-cardinality sketch table back onto the data (AQE-planned)
    with conditional counters. No window, no sort."""
    probs = [float(p) for p in probs]
    if not probs or any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(
            "grouped_quantiles_approx_certificate: probs must be a"
            " non-empty sequence in [0, 1]"
        )
    if accuracy < 1:
        raise ValueError(
            "grouped_quantiles_approx_certificate: accuracy >= 1"
        )
    no_output_collision(
        "grouped_quantiles_approx_certificate",
        "group_col",
        group_col,
        ("n", "n_probs", "within_bound"),
    )
    sk = df.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(group_col).alias("__g")
    ).agg(
        F.percentile_approx(
            value_col, F.lit(probs), F.lit(int(accuracy))
        ).alias("__qv"),
    )
    probe = df.filter(F.col(value_col).isNotNull()).join(
        sk, F.col(group_col).eqNullSafe(F.col("__g"))
    )
    counters = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(len(probs)):
        counters.append(
            F.sum(
                F.when(F.col(value_col) < F.col("__qv")[i], 1)
                .otherwise(0)
            ).cast("long").alias(f"__lt{i}")
        )
        counters.append(
            F.sum(
                F.when(F.col(value_col) <= F.col("__qv")[i], 1)
                .otherwise(0)
            ).cast("long").alias(f"__le{i}")
        )
    checked = probe.groupBy("__g").agg(*counters)
    nd = F.col("n").cast("double")
    eps = F.lit(1.0 / int(accuracy) + 1e-9) + F.lit(1.0) / nd
    within = None
    for i, p in enumerate(probs):
        lo_ok = F.col(f"__lt{i}").cast("double") / nd - F.lit(p) <= eps
        hi_ok = F.lit(p) - F.col(f"__le{i}").cast("double") / nd <= eps
        c = lo_ok & hi_ok
        within = c if within is None else (within & c)
    return checked.select(
        F.col("__g").alias(group_col),
        "n",
        F.lit(len(probs)).cast("long").alias("n_probs"),
        within.alias("within_bound"),
    )
