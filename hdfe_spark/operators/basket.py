"""Market-basket co-occurrence mining: pairwise association rules
(support / confidence / lift) over (basket, item) rows.

Beyond-reference surface (SURVEY.md §2.5): co-occurrence statistics
are the basket-shaped sibling of `text.pmi_bigrams` — the same
"which things appear together more than chance?" question over
transactions, user item sets, or per-document tag sets, and a
curation primitive (topic co-occurrence before sampling).

Scale contract: candidate pairs come from a within-basket self-join
(the shared pair kernel `setjoin._posting_pairs`, with items as ids
and baskets as keys), so the materialized pair volume is sum over
baskets of |basket|² — LINEAR when baskets are bounded (the
retail/tag regime this is for), quadratic in the largest basket
otherwise (the `dbscan_grid` density caveat, stated loudly in the
docstring); cap or pre-trim oversized baskets upstream. Every
emitted statistic is either an exact BIGINT count or ONE IEEE
division/product of exact counts — no float summation anywhere, so a
SQL oracle mirrors it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdfe_spark.operators.setjoin import _posting_pairs


def _cooccurrence(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int,
    names: tuple[str, str, str, str],
) -> tuple[DataFrame, DataFrame]:
    """The shared front half of `assoc_rules` and `item_cf`:
    ``(incidence, rows)`` where ``incidence`` is the distinct
    (``__b``, ``__i``) table of non-NULL baskets and items, eagerly
    checkpointed, and ``rows`` holds both directions of every item
    pair co-occurring in >= ``min_count`` baskets, as columns
    ``names[0]``, ``names[1]``, ``n_ab``, ``names[2]``, ``names[3]``
    (item, other item, pair count, item margin, other margin).

    The incidence is materialized once: it feeds several plan
    branches (the margins, both sides of the pair join, and the
    caller's basket count), so without it the distinct shuffle
    recomputes per branch, and a non-deterministic source could make
    a basket count disagree with the pair counts it divides (the
    anova_oneway one-action convention)."""
    bi = (
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    margins = bi.groupBy("__i").agg(F.count(F.lit(1)).cast("long").alias("__n"))

    def margin(side):
        return margins.select(
            F.col("__i").alias(f"id_{side}"), F.col("__n").alias(f"__n{side}")
        )

    counted = (
        _posting_pairs(bi, "__i", ["__b"])
        .filter(F.col("n_shared") >= F.lit(int(min_count)))
        .join(margin("a"), "id_a")
        .join(margin("b"), "id_b")
    )
    x, y, nx, ny = names

    def direction(p, q):
        return counted.select(
            F.col(f"id_{p}").alias(x),
            F.col(f"id_{q}").alias(y),
            F.col("n_shared").alias("n_ab"),
            F.col(f"__n{p}").alias(nx),
            F.col(f"__n{q}").alias(ny),
        )

    return bi, direction("a", "b").unionByName(direction("b", "a"))


def assoc_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
) -> DataFrame:
    """Directed pairwise association rules a -> b over baskets:
    support(a,b) = n_ab/N, confidence(a->b) = n_ab/n_a, and
    lift(a->b) = n_ab*N/(n_a*n_b), for every ordered item pair
    co-occurring in >= ``min_count`` baskets (an INTEGER threshold —
    a float min_support would push an engine-dependent rounding
    decision into the cut; callers convert: min_count =
    ceil(min_support * N)).

    Plan (100 TB shape): distinct (basket, item) pairs (one shuffle
    — duplicate items in a basket count once, standard basket
    semantics), a basket-keyed self-join emitting each unordered
    co-occurrence once (item_a < item_b), one pair-count
    aggregation, then two broadcast-ready item-margin joins (the
    `_contingency` shape: margins re-aggregate the distinct pairs,
    which is item-vocabulary-sized — joined by shuffle, NOT hinted
    broadcast, since item vocabularies are unbounded, the
    `lm_score_buckets` lesson). Both rule directions are emitted by
    a final symmetric union — no second join pass.

    Returns: antecedent, consequent, n_ab, n_a, n_b, n_baskets,
    support, confidence, lift. NULL baskets/items are excluded."""
    if min_count < 1:
        raise ValueError("assoc_rules: min_count must be >= 1")
    bi, both = _cooccurrence(
        df, basket_col, item_col, min_count,
        ("antecedent", "consequent", "n_a", "n_b"),
    )
    n_baskets = bi.agg(
        F.count_distinct("__b").cast("long")
    ).collect()[0][0]
    if not n_baskets:
        raise ValueError("assoc_rules: no baskets")
    nf = F.lit(float(int(n_baskets)))
    return both.select(
        "antecedent",
        "consequent",
        "n_ab",
        "n_a",
        "n_b",
        F.lit(int(n_baskets)).alias("n_baskets"),
        (F.col("n_ab").cast("double") / nf).alias("support"),
        (
            F.col("n_ab").cast("double") / F.col("n_a").cast("double")
        ).alias("confidence"),
        (
            F.col("n_ab").cast("double")
            * nf
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ).alias("lift"),
    )


def item_cf(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    k: int = 10,
) -> DataFrame:
    """Item-item collaborative filtering: for every item, its top-k
    nearest neighbors by binary cosine similarity over basket
    incidence — cosine(a, b) = n_ab / sqrt(n_a * n_b), the
    "customers who bought X also bought Y" recommender primitive
    (and, over per-document tag/entity sets, a related-items signal
    for curriculum grouping). Complements `assoc_rules`: lift ranks
    by surprise, cosine by co-incidence normalized for popularity,
    and this operator SELECTS the per-item top-k rather than
    emitting every rule.

    Plan (100 TB shape): the same front half as `assoc_rules`
    (`_cooccurrence`) — distinct (basket, item) incidence (one
    shuffle), a basket-keyed self-join bounded by sum-of-|basket|^2
    (the dbscan density caveat: cap oversized baskets upstream), pair
    counts >= ``min_count``, two item-margin joins — then ONE window ranking
    partitioned per item over its candidate neighbors (bounded by
    the co-occurring vocabulary, never the corpus). Counts are
    exact BIGINTs; cosine is n_ab / sqrt(n_a*n_b) where sqrt is
    IEEE-754 CORRECTLY ROUNDED (unlike exp/ln) — every emitted
    float is reproducible bit-for-bit on any engine, so the SQL
    oracle needs no rounding at all. Rank ties (equal cosine) break
    on the neighbor key — a total order, engine-portable.

    Returns one row per (item, rank<=k): item, neighbor, rank,
    n_ab, n_item, n_neighbor, cosine. NULL baskets/items excluded.
    """
    if min_count < 1:
        raise ValueError("item_cf: min_count must be >= 1")
    if k < 1:
        raise ValueError("item_cf: k must be >= 1")
    both = _cooccurrence(
        df, basket_col, item_col, min_count,
        ("item", "neighbor", "n_item", "n_neighbor"),
    )[1]
    cos = F.col("n_ab").cast("double") / F.sqrt(
        F.col("n_item").cast("double") * F.col("n_neighbor").cast("double")
    )
    scored = both.withColumn("cosine", cos)
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select(
            "item", "neighbor", "rank", "n_ab", "n_item",
            "n_neighbor", "cosine",
        )
    )
