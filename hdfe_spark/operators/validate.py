"""Data-quality validation: declarative constraint checks, referential
integrity, one-pass column profiling, and robust (MAD) outlier
flagging.

Beyond-reference surface (the reference trusts its numpy inputs;
``hdfe/groupby.py:8-40`` just asserts shapes): a 100 TB ingest needs
the Deequ-style contract layer — "is this partition of the corpus
fit to train on?" — answered by ONE scan, not one scan per rule.

Scale design:

- ``check_constraints`` compiles every rule into a column expression
  inside a SINGLE ``df.agg(...)`` — one scan, map-side partials, a
  1-row result exploded driver-side into the long-format report.
  Adding a rule adds an expression, never a pass.
- ``referential_integrity`` distinct-compresses the child's foreign
  keys BEFORE the parent anti-join, so the join moves |distinct fk|
  rows, not |child| rows; the parent key set broadcasts when small.
- ``column_profile`` is likewise one aggregation over all profiled
  columns (count/null/distinct/min/max per column), unpivoted to a
  row per column.
- ``mad_outliers`` computes per-group exact medians with Spark's
  ``percentile`` (one shuffle keyed on the group, per-group sort —
  exact, for certificates and bounded-group data). For unbounded
  100 TB groups pass ``accuracy`` to switch to
  ``percentile_approx`` (t-digest-style sketch, no per-group sort).

All metrics are engine-portable by construction: fractions are exact
bigint/bigint IEEE divisions, min/max are selections, and the median
is an order statistic (one interpolation of two doubles) — never an
order-dependent float sum.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdfe_spark.operators._guards import quote_ident
from hdfe_spark.operators.collinearity import _fixed_point_moments


def _rule_exprs(rule: dict, streaming: bool = False):
    """Compile one rule into (metric expression, threshold, label).

    Metric semantics: a fraction in [0, 1]; the rule passes when
    metric >= threshold. With ``streaming=True`` every expression
    must be decomposable (mergeable across micro-batches):
    ``uniqueness`` swaps its exact countDistinct — which Spark
    rejects in streaming aggregations — for the mergeable HLL
    ``approx_count_distinct`` (an estimate, flagged in the label).
    """
    kind = rule["kind"]
    col = rule.get("column")
    if kind == "completeness":
        metric = (
            F.count(F.col(col)).cast("double")
            / F.count(F.lit(1)).cast("double")
        )
        thr = float(rule.get("min_fraction", 1.0))
    elif kind == "uniqueness":
        distinct = (
            F.approx_count_distinct(F.col(col))
            if streaming
            else F.countDistinct(F.col(col))
        )
        metric = (
            distinct.cast("double") / F.count(F.col(col)).cast("double")
        )
        thr = float(rule.get("min_fraction", 1.0))
        if streaming:
            return metric, thr, f"uniqueness~approx({col})"
    elif kind == "bounds":
        lo, hi = rule["lo"], rule["hi"]
        inside = F.when(
            F.col(col).isNotNull()
            & (F.col(col) >= lo) & (F.col(col) <= hi),
            1,
        ).otherwise(0)
        metric = (
            F.sum(inside).cast("double") / F.count(F.lit(1)).cast("double")
        )
        thr = float(rule.get("min_fraction", 1.0))
    elif kind == "in_set":
        vals = list(rule["values"])
        hit = F.when(F.col(col).isin(vals), 1).otherwise(0)
        metric = (
            F.sum(hit).cast("double") / F.count(F.lit(1)).cast("double")
        )
        thr = float(rule.get("min_fraction", 1.0))
    elif kind == "matches":
        hit = F.when(F.col(col).rlike(rule["pattern"]), 1).otherwise(0)
        metric = (
            F.sum(hit).cast("double") / F.count(F.lit(1)).cast("double")
        )
        thr = float(rule.get("min_fraction", 1.0))
    elif kind == "min_rows":
        metric = F.count(F.lit(1)).cast("double")
        thr = float(rule["n"])
        return metric, thr, f"min_rows(>={int(thr)})"
    else:
        raise ValueError(f"unknown constraint kind: {kind}")
    return metric, thr, f"{kind}({col})"


def check_constraints(
    df: DataFrame, rules: Sequence[dict], streaming: bool = False
) -> DataFrame:
    """Evaluate declarative quality rules in ONE aggregation pass.

    Each rule is a dict: ``{"kind": "completeness"|"uniqueness"|
    "bounds"|"in_set"|"matches"|"min_rows", "column": ..., ...}``.
    Returns a report with one row per rule: ``(constraint, metric,
    threshold, passed)``, in rule order.

    The whole rule set costs one scan: every metric is an expression
    in a single ``agg`` (partial-aggregated map-side), and the 1-row
    result is reshaped to long format with an ``inline`` of a
    literal-structured array — no second job, no Python.
    """
    metrics, labels, thrs = [], [], []
    for i, rule in enumerate(rules):
        m, t, lab = _rule_exprs(rule, streaming=streaming)
        metrics.append(m.alias(f"__m{i}"))
        labels.append(lab)
        thrs.append(t)
    one = df.agg(*metrics)
    structs = F.array(
        *[
            F.struct(
                F.lit(labels[i]).alias("constraint"),
                F.col(f"__m{i}").alias("metric"),
                F.lit(thrs[i]).alias("threshold"),
                (F.col(f"__m{i}") >= F.lit(thrs[i])).alias("passed"),
            )
            for i in range(len(rules))
        ]
    )
    return one.select(F.inline(structs))


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk: str,
    pk: str,
) -> DataFrame:
    """Foreign-key containment check: every non-null ``child.fk``
    must exist in ``parent.pk``.

    Returns one row: ``(n_child_keys, n_orphan_keys, n_orphan_rows,
    ok)``. Distinct-compresses the child side first so the anti-join
    is keyed on |distinct fk| (bounded by the dimension's domain),
    and carries the per-key row count so orphan ROWS are still exact.
    The parent key set is a key-only projection — broadcastable
    whenever the dimension fits, pushed column-pruned to its scan.
    """
    fkeys = (
        child.filter(F.col(fk).isNotNull())
        .groupBy(F.col(fk).alias("__fk"))
        .agg(F.count(F.lit(1)).alias("__rows"))
    )
    pkeys = parent.select(F.col(pk).alias("__pk")).distinct()
    orphans = fkeys.join(
        F.broadcast(pkeys), F.col("__fk") == F.col("__pk"), "left_anti"
    )
    return (
        fkeys.agg(
            F.count(F.lit(1)).alias("n_child_keys"),
        )
        .crossJoin(
            F.broadcast(
                orphans.agg(
                    F.count(F.lit(1)).alias("n_orphan_keys"),
                    F.coalesce(F.sum("__rows"), F.lit(0))
                    .cast("bigint")
                    .alias("n_orphan_rows"),
                )
            )
        )
        .withColumn("ok", F.col("n_orphan_keys") == 0)
    )


def column_profile(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Per-column profile — null count, distinct count, numeric
    min/max — for all ``columns`` in ONE aggregation pass.

    Output: one row per column, ``(column, n_rows, n_nulls,
    n_distinct, min_num, max_num)``; ``min_num``/``max_num`` are NULL
    for non-numeric columns (lexicographic string extremes are
    locale-traps, so they are deliberately not emitted). min/max are
    selections and counts are exact integers — every cell is
    engine-portable.
    """
    numeric = {
        name
        for name, dtype in df.dtypes
        if dtype in ("tinyint", "smallint", "int", "bigint", "float",
                     "double") or dtype.startswith("decimal")
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(columns):
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__null{i}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__dist{i}"))
        if c in numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__min{i}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__max{i}"))
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.col(f"__null{i}").cast("bigint").alias("n_nulls"),
                F.col(f"__dist{i}").cast("bigint").alias("n_distinct"),
                (
                    F.col(f"__min{i}")
                    if c in numeric
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"__max{i}")
                    if c in numeric
                    else F.lit(None).cast("double")
                ).alias("max_num"),
            )
            for i, c in enumerate(columns)
        ]
    )
    return one.select(F.inline(structs))


def mad_outliers(
    df: DataFrame,
    key: str,
    value_col: str,
    k: float = 3.0,
    accuracy: int | None = None,
) -> DataFrame:
    """Flag rows whose value deviates from the per-group median by
    more than ``k`` times the group's median absolute deviation —
    the robust outlier rule (unlike z-scores, one huge outlier
    cannot mask others by inflating the sd).

    Two shuffles keyed on ``key`` (medians need two order-statistic
    rounds: med(x), then med(|x - med|)), then the flag rides back
    via a broadcast join of the per-group statistics table (bounded
    by the number of groups). Exact ``percentile`` sorts within each
    group; for unbounded groups at 100 TB pass ``accuracy`` to use
    ``percentile_approx`` (bounded-memory sketch) instead.

    Returns the flagged rows with ``(group median, mad, deviation)``
    attached. Deterministic cross-engine: medians are order
    statistics (selection + one interpolation), never float sums.
    """
    if accuracy is None:
        med_fn = lambda c: F.expr(  # noqa: E731
            f"percentile({quote_ident(c)}, 0.5)"
        )
    else:
        med_fn = lambda c: F.percentile_approx(  # noqa: E731
            c, 0.5, accuracy
        )
    med = df.groupBy(F.col(key).alias("__k")).agg(
        med_fn(value_col).alias("__med")
    )
    with_med = df.join(F.broadcast(med), F.col(key) == F.col("__k")).drop(
        "__k"
    )
    dev = with_med.withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = dev.groupBy(F.col(key).alias("__k2")).agg(
        med_fn("__adev").alias("__mad")
    )
    flagged = (
        dev.join(F.broadcast(mad), F.col(key) == F.col("__k2"))
        .drop("__k2")
        .filter(F.col("__adev") > F.lit(k) * F.col("__mad"))
    )
    return (
        flagged.withColumnRenamed("__med", "group_median")
        .withColumnRenamed("__mad", "group_mad")
        .withColumnRenamed("__adev", "deviation")
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    bins: int = 10,
) -> DataFrame:
    """Population-stability drift between a baseline and a comparison
    population: bin by the BASELINE's exact quantile breakpoints,
    then report, per bin, both populations' shares and the PSI term
    ``(p_a - p_b) * ln(p_a / p_b)`` (sum the column for the headline
    PSI; > 0.2 conventionally flags drift).

    Scale/portability design:

    - breakpoints are ONE exact-percentile aggregation of the
      baseline (order statistics — engine-portable), collected as
      bins-1 SCALARS to the driver — the same bounded-scalar
      collect the rank/prefix-sum family uses — and compiled into a
      codegen indicator sum (`bin = Σ 1[bp <= value]`), so each
      population is binned in a single narrow scan + 10-group
      aggregation (a broadcast inequality join would multiply every
      row by ~bins before aggregating);
    - per-bin shares are exact bigint/bigint divisions and each PSI
      term is one deterministic double expression per row — the
      cross-bin SUM is deliberately left to the caller, so nothing
      in the OUTPUT depends on a float summation order.

    Empty bins get a 0.5-count Laplace floor on both sides (the
    standard guard: ln(p/0) is infinite; the floor keeps the term
    finite and still large). Duplicate breakpoints (heavily tied
    baselines) merge their bins identically on every engine.
    """
    qs = [i / bins for i in range(1, bins)]
    breaks = [
        float(b)
        for b in df_a.agg(
            F.expr(
                f"percentile({quote_ident(value_col)},"
                f" array({','.join(map(str, qs))}))"
            ).alias("__bps")
        ).collect()[0]["__bps"]
    ]

    def binned_rows(df, name):
        # bin id = number of breakpoints <= value (0..bins-1) as a
        # codegen indicator sum over the bins-1 collected scalars —
        # one narrow scan, one 10-group aggregation.
        bin_expr = sum(
            (
                F.when(F.lit(b) <= F.col(value_col), 1).otherwise(0)
                for b in breaks
            ),
            F.lit(0),
        )
        return (
            df.groupBy(bin_expr.alias("__bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    ca = binned_rows(df_a.filter(F.col(value_col).isNotNull()), "n_a")
    cb = binned_rows(df_b.filter(F.col(value_col).isNotNull()), "n_b")
    spine = ca.join(cb, "__bin", "full_outer").select(
        F.col("__bin").cast("int").alias("bin"),
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
    )
    tot = spine.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    fa = (
        F.when(F.col("n_a") > 0, F.col("n_a").cast("double"))
        .otherwise(F.lit(0.5))
        / F.col("__ta").cast("double")
    )
    fb = (
        F.when(F.col("n_b") > 0, F.col("n_b").cast("double"))
        .otherwise(F.lit(0.5))
        / F.col("__tb").cast("double")
    )
    return (
        spine.join(F.broadcast(tot))
        .select(
            "bin",
            "n_a",
            "n_b",
            fa.alias("p_a"),
            fb.alias("p_b"),
            ((fa - fb) * F.log(fa / fb)).alias("psi_term"),
        )
    )


def mahalanobis_outliers(
    df: DataFrame,
    cols: Sequence[str],
    threshold: float = 13.815510557964274,  # chi2(k=2, p=0.999)
    scale: float = 1e6,
) -> DataFrame:
    """Multivariate outlier flags: rows whose squared Mahalanobis
    distance from the column-mean vector exceeds ``threshold``
    (chi-squared quantile at the chosen confidence) — the
    correlation-aware complement of the univariate `mad_outliers`
    (a row can be unremarkable per-column yet impossible jointly).

    Engine-portable exactness, the repo's Gram pattern
    (`operators/collinearity.py`): every first/second moment is an
    EXACT integer/decimal sum of ``round(value*scale)`` fixed-point
    values (sums of doubles are order-dependent; sums of integers are
    not), collected as k + k(k+1)/2 scalars in ONE aggregation pass.
    For k=2 (the SQL-certificate shape) the covariance inverse is
    the closed-form adjugate/determinant — the same expression tree
    a SQL oracle writes, bit-portable across engines. For k >= 3 the
    SAME exact moments feed a driver-side ``np.linalg.inv`` (a k×k
    solve on exact inputs — deterministic per platform, but not a
    literal SQL expression tree, so the cross-engine certificate
    stays k=2; the reference's own rank tooling makes the identical
    trade, `hdfe/multicollinearity.py:75-108` via LAPACK). Either
    way the per-row quadratic form is one broadcast-coefficient
    codegen projection scan.
    """
    cols = list(cols)
    k = len(cols)
    if k < 2:
        raise ValueError("mahalanobis_outliers needs >= 2 columns")

    mom = _fixed_point_moments(
        df, cols, scale, "mahalanobis_outliers", complete=False
    )
    n = float(mom.n)
    if n == 0:
        raise ValueError("mahalanobis_outliers: empty input")
    means = [float(v) / n for v in mom.s]
    if k == 2:
        # closed-form adjugate: the bit-portable certificate path
        mx, my = means
        M = mom.M.tolist()
        cxx = M[0][0] / n - mx * mx
        cxy = M[0][1] / n - mx * my
        cyy = M[1][1] / n - my * my
        det = cxx * cyy - cxy * cxy
        if det == 0.0:
            raise ValueError(
                "mahalanobis_outliers: singular covariance "
                "(collinear columns)"
            )
        inv = [[cyy / det, -cxy / det], [-cxy / det, cxx / det]]
    else:
        import numpy as np

        C = mom.M / n - np.outer(means, means)
        if np.linalg.matrix_rank(C) < k:
            raise ValueError(
                "mahalanobis_outliers: singular covariance "
                "(collinear columns) — drop them first "
                "(collinearity.find_collinear_cols_gram)"
            )
        inv = np.linalg.inv(C).tolist()
    d = [
        F.round(F.col(c) * scale).cast("double") - F.lit(mu)
        for c, mu in zip(cols, means)
    ]
    d2 = None
    for i in range(k):
        row_i = None
        for j in range(k):
            term = d[j] * F.lit(inv[i][j])
            row_i = term if row_i is None else row_i + term
        quad = d[i] * row_i
        d2 = quad if d2 is None else d2 + quad
    return df.withColumn("mahalanobis_sq", d2).filter(
        F.col("mahalanobis_sq") > threshold
    )


def benford_digit_audit(
    df: DataFrame,
    col: str,
    scale: float = 100.0,
) -> DataFrame:
    """Benford's-law first-digit audit: one row per leading digit
    1-9 with the observed count, Benford-expected count, and the
    chi-squared term — the classic fabricated-data / unit-mixing
    screen for monetary columns (a corpus shard whose prices were
    synthesized uniformly lights up instantly).

    Engine-portable by construction: the leading digit comes from
    the DECIMAL STRING of the exact fixed-point integer
    ``round(value*scale)`` (no log10 on doubles, whose libm varies
    by engine — integer-to-string rendering does not), and the
    log10 expectations ride as dumped double literals. Per-digit
    chi2 terms only; the caller sums and compares to chi2(8). One
    groupBy over 9 keys. Values rounding below 1 fixed-point unit
    are excluded (Benford applies to positive magnitudes, and a
    sub-half-unit value has no leading digit).
    """
    import math

    u = F.round(F.col(col) * scale).cast("decimal(38,0)")
    digit = F.substring(u.cast("string"), 1, 1).cast("int")
    obs = (
        # filter on the ROUNDED integer, not the raw value: values in
        # (0, 0.5/scale) round to 0, which has no leading digit — a
        # raw-value filter would emit a digit=0 row with NULL
        # expectation AND inflate the total behind every digit's
        # chi2 term
        df.filter(F.col(col).isNotNull() & (u >= F.lit(1)))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = F.broadcast(
        obs.agg(F.sum("n").cast("long").alias("__tot"))
    )
    p = F.lit(None).cast("double")
    for d in range(9, 0, -1):
        p = F.when(
            F.col("digit") == d, F.lit(math.log10(1.0 + 1.0 / d))
        ).otherwise(p)
    exp = F.col("__tot").cast("double") * p
    term = (F.col("n").cast("double") - exp) * (
        F.col("n").cast("double") - exp
    ) / exp
    return (
        obs.crossJoin(tot)
        .select(
            "digit", "n",
            exp.alias("expected"),
            term.alias("chi2_term"),
        )
    )
