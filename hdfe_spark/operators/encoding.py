"""Categorical encoding: factorization + one-hot (sparse) dummies.

Reference parity: ``make_dummies`` (``hdfe/hdfe.py:14-32``) and
``get_all_dummies`` (``hdfe/hdfe.py:35-43``).

Reference semantics preserved:

- levels are factorized to dense codes ``0..k-1`` in **sorted value
  order** (``np.unique``; already-contiguous non-negative int codes
  pass through unchanged);
- ``drop_col=True`` drops the **last** level (``hdfe/hdfe.py:29-30``)
  — the same convention as MLlib ``OneHotEncoder(dropLast=True)``;
- multi-column blocks keep all levels of the FIRST column and drop the
  last level of each subsequent column (dummy-variable trap;
  ``hdfe/hdfe.py:35-43``).

Spark-first design: the reference materializes a global scipy CSC
matrix — a single-node object. Distributed, the idiom is **one sparse
vector per row** (MLlib ``SparseVector``), or plain indicator columns
when the level count is small and SQL-expressibility matters. Both are
provided:

- ``output="vector"`` → ``StructField(name, VectorUDT)`` via
  ``OneHotEncoder`` — the scale path (a 1M-level FE is one
  ``SparseVector(1e6, [code], [1.0])`` per row, not 1e6 columns);
- ``output="columns"`` → explicit ``{col}_is_{level}`` double columns
  (Catalyst-pruned, whole-stage-codegen'd) — the oracle-checkable path
  for small cardinality.

Factorization is a broadcast join against the (tiny) sorted distinct
level table — no global sort of the fact table, no shuffle of the big
side (broadcast hash join).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sorted_levels(df: DataFrame, col: str) -> DataFrame:
    """The distinct values of ``col`` sorted in one task: the order of
    ``orderBy(col)`` (NULL first, NaN last) without its
    range-partition sampling job and sort shuffle — the level table
    is dimension-sized."""
    return df.select(col).distinct().coalesce(1).sortWithinPartitions(col)


def levels_of(df: DataFrame, col: str) -> list:
    """Distinct levels of ``col`` in sorted order (the reference's
    ``np.unique`` ordering, ``hdfe/hdfe.py:26``). Driver-side list —
    intended for dimension-sized cardinalities."""
    return [r[0] for r in _sorted_levels(df, col).collect()]


def factorize(df: DataFrame, col: str, code_col: str | None = None) -> DataFrame:
    """Add a dense integer code column ``0..k-1`` for ``col``.

    Codes follow sorted level order (``np.unique`` parity). The code
    table numbers the sorted distinct values (k rows — tiny) in their
    one partition, where ``monotonically_increasing_id`` counts 0, 1,
    … — no window, so no unpartitioned window exchange — and is
    broadcast-joined back, so the fact table never shuffles. The
    NULL level is dropped before numbering, so the codes are dense
    over the non-NULL levels; a NULL key never matches the join, so
    NULL rows get a NULL code.
    """
    code_col = code_col or f"{col}_code"
    codes = (
        _sorted_levels(df, col)
        .filter(F.col(col).isNotNull())
        .select(
            col, F.monotonically_increasing_id().cast("int").alias(code_col)
        )
    )
    return df.join(F.broadcast(codes), on=col, how="left")


def make_dummies(
    df: DataFrame,
    col: str,
    drop_col: bool = False,
    output: str = "columns",
    levels: Sequence | None = None,
) -> tuple[DataFrame, list[str]]:
    """One-hot encode ``col`` (reference ``make_dummies``,
    ``hdfe/hdfe.py:14-32``). Returns ``(df_with_dummies, dummy_names)``.

    ``drop_col=True`` drops the LAST level, matching the reference and
    MLlib's ``dropLast`` convention.
    """
    if output == "vector":
        from pyspark.ml.feature import OneHotEncoder

        coded = factorize(df, col)
        enc = OneHotEncoder(
            inputCols=[f"{col}_code"],
            outputCols=[f"{col}_onehot"],
            dropLast=drop_col,
        )
        return enc.fit(coded).transform(coded), [f"{col}_onehot"]

    if output != "columns":
        raise ValueError("output must be 'vector' or 'columns'")
    lv = list(levels) if levels is not None else levels_of(df, col)
    if drop_col:
        lv = lv[:-1]
    names = [f"{col}_is_{v}" for v in lv]
    out = df.select(
        "*",
        *[
            F.when(F.col(col) == F.lit(v), 1.0).otherwise(0.0).alias(n)
            for v, n in zip(lv, names)
        ],
    )
    return out, names


def get_all_dummies(
    df: DataFrame,
    cols: Sequence[str],
    output: str = "columns",
) -> tuple[DataFrame, list[str]]:
    """Multi-FE dummy block (reference ``get_all_dummies``,
    ``hdfe/hdfe.py:35-43``): all levels of the first column, drop-last
    for each subsequent column (the first block absorbs the intercept).
    """
    cols = list(cols)
    if len(cols) == 1:
        return make_dummies(df, cols[0], drop_col=False, output=output)

    out = df
    names: list[str] = []
    for i, c in enumerate(cols):
        out, n = make_dummies(out, c, drop_col=(i > 0), output=output)
        names += n
    if output == "vector":
        from pyspark.ml.feature import VectorAssembler

        asm = VectorAssembler(inputCols=names, outputCol="dummies")
        return asm.transform(out), ["dummies"]
    return out, names


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    prior_weight: float = 10.0,
    scale: float = 1e6,
    out_col: str | None = None,
) -> DataFrame:
    """Leave-one-out target encoding with prior smoothing — the
    leakage-safe categorical feature for tree/linear models:

        te_i = (sum_cat - y_i + m * mu) / (n_cat - 1 + m)

    where mu is the GLOBAL target mean, m = ``prior_weight``; each
    row's own target is excluded (plain per-category means leak the
    label into its own feature), and singleton categories
    (n_cat = 1, m = 0 would divide by zero) are pulled entirely to
    the prior by the smoothing term.

    The one-hot expansion path (`make_dummies`, reference
    `hdfe/fixed_effects.py:9-26`) explodes at 100 TB cardinalities;
    target encoding is its constant-width replacement. One groupBy
    builds the per-category (n, sum) table — broadcast back when
    small, hash-join otherwise; the encode itself is a codegen
    projection.

    Exactness: per-category and global sums are exact fixed-point
    DECIMAL(38,0); te is then a single IEEE expression on exact
    inputs — engine-reproducible, SQL-oracle-mirrorable. NULL
    targets are excluded from sums and get NULL encodes; NULL
    categories encode to the prior mean. The prior mu is computed
    over the SAME population the per-category table smooths toward
    — rows with BOTH category and target non-null — so a skewed
    block of NULL-category rows cannot bias the prior that
    singleton/unseen categories are pulled to.
    """
    out_col = out_col or f"{cat_col}_te"
    u = F.round(F.col(target_col) * scale).cast("decimal(38,0)")
    g = df.filter(
        F.col(target_col).isNotNull() & F.col(cat_col).isNotNull()
    ).agg(
        F.count(F.lit(1)).cast("long").alias("gn"),
        F.sum(u).alias("gs"),
    ).collect()[0]
    if int(g["gn"] or 0) == 0:
        raise ValueError(
            "target_encode_loo: no rows with non-null category and "
            "target — the prior mean is undefined"
        )
    mu = float(g["gs"]) / float(g["gn"])  # scaled units
    per_cat = (
        df.filter(
            F.col(target_col).isNotNull() & F.col(cat_col).isNotNull()
        )
        .groupBy(cat_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("__cn"),
            F.sum(u).alias("__cs"),
        )
    )
    joined = df.join(per_cat, cat_col, "left")
    m = float(prior_weight)
    yu = F.round(F.col(target_col) * scale).cast("double")
    denom = F.col("__cn").cast("double") - F.lit(1.0) + F.lit(m)
    te_scaled = F.when(
        F.col(target_col).isNotNull()
        & F.col("__cs").isNotNull()
        & (denom > F.lit(0.0)),
        (F.col("__cs").cast("double") - yu + F.lit(m) * F.lit(mu))
        / denom,
    ).when(
        F.col(target_col).isNull(), F.lit(None).cast("double")
    ).otherwise(F.lit(mu))  # null/unseen category, or an unsmoothed
    # singleton (denom 0, ANSI would raise): pull to the prior mean
    return joined.withColumn(out_col, te_scaled / F.lit(scale)).drop(
        "__cn", "__cs"
    )


def collapse_rare_levels(
    df: DataFrame,
    col: str,
    min_count: int,
    other_label: str = "__other__",
    out_col: "str | None" = None,
) -> DataFrame:
    """Collapse categorical levels with fewer than ``min_count``
    rows into one ``other_label`` bucket — the standard
    feature-engineering step BEFORE `dummies`/`target_encode` on a
    high-cardinality column (one-hotting a million-level column is
    a million-column design matrix; the tail carries no signal).

    Exact and deterministic: level counts are one integer
    aggregation; the rewrite is when(count >= min_count, level,
    other). NULL levels pass through as NULL — NULL means the value
    is ABSENT, not that a rare level was observed, and folding NULL
    into ``other_label`` would invent data (the `target_encode`
    NULL convention).

    Scale: one count aggregation over levels + one level-keyed join
    back, NO broadcast hint — AQE broadcasts the level table when
    it is small (the common case) and falls back cleanly when a
    pathological column makes it big (the `lm_score_buckets`
    lesson). The rewritten column replaces ``col`` unless
    ``out_col`` names a new one, and is always STRING (the bucket
    label is a string; numeric levels are rendered by CAST — the
    downstream consumers, `dummies`/`target_encode`, key on the
    value, not the type).
    """
    if min_count < 1:
        raise ValueError("collapse_rare_levels: min_count must be >= 1")
    target = out_col or col
    counts = df.groupBy(F.col(col).alias("__lvl")).agg(
        F.count(F.lit(1)).alias("__lc")
    )
    joined = df.join(
        counts, df[col].eqNullSafe(counts["__lvl"]), "left"
    )
    rewritten = F.when(F.col(col).isNull(), F.lit(None).cast("string")).when(
        F.col("__lc") >= min_count, F.col(col).cast("string")
    ).otherwise(F.lit(other_label))
    return joined.withColumn(target, rewritten).drop("__lvl", "__lc")
