"""Classic supervised learners and their evaluation suite,
re-expressed as certificate-friendly Spark plans: AdaBoost decision
stumps with quantized weights, a multinomial Naive Bayes
trainer/scorer with integer counts and quantized log-probabilities,
and the model-eval family (confusion metrics, precision/recall@k,
quantized-discount NDCG, decile lift/gains).

Beyond-reference surface (the reference engine stops at linear
models, `/root/reference/hdfe/hdfe.py:14-302`); these are the
"cheap model over corpus features" tier a curation pipeline reaches
for right after the engine's logistic family: a boosted-stump
quality score and an NB language/topic classifier.

House exactness conventions throughout:
- every distributed SUM is over INTEGERS (DECIMAL(38,0)) — weights
  and log-probabilities are quantized to fixed-point before any
  aggregation, so the moments are order-free on any engine (the
  `logistic2` argument: a floor() landing exactly on a boundary
  after a last-ulp libm difference has density ~2^-bits per ulp);
- per-round / per-class argmins are total orders (error ASC, then
  threshold/class ASC, then polarity) a SQL oracle replays verbatim;
- iteration counts are FIXED and small, each round one aggregation
  pass — the `kmeans`/`pagerank` unrolled-oracle convention.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hdfe_spark.operators._guards import no_output_collision

_D38 = "decimal(38,0)"


def _bin01(fn: str, name: str, col):
    """In-plan 0/1 DOMAIN guard (review r10): `_guard_binary_label`
    only rejects float DTYPES — an out-of-domain integral value
    (y = 2) would otherwise land in n but in none of the counters,
    silently corrupting every derived metric. Rides the expression
    itself, so it cannot be pruned and works on streams."""
    return F.when(
        col.isNotNull() & ~col.isin(0, 1),
        F.raise_error(
            F.concat(
                F.lit(f"{fn}: {name} outside {{0, 1}}: "),
                col.cast("string"),
            )
        ).cast("long"),
    ).otherwise(col)


def _guard_binary_label(fn: str, df: DataFrame, label_col: str) -> None:
    # Delegate to the shared quantized-family guard (stats.py) so a
    # future fix to the integral-label check lands here too.
    from hdfe_spark.operators.stats import _check_integral_y

    _check_integral_y(
        fn,
        df,
        label_col,
        "a binary label must be integral/boolean (threshold upstream)",
    )


def adaboost_stumps(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    n_rounds: int = 3,
    wbits: int = 16,
) -> DataFrame:
    """AdaBoost.M1 over decision stumps on ONE numeric feature —
    `best_split`'s boosted sibling and the smallest real ensemble:
    each round fits the exactly-best weighted threshold stump, then
    reweights rows multiplicatively toward the mistakes.

    Engine-exact in a distributed setting because the row weights
    are INTEGERS end to end: init w = 2^wbits per row; after each
    round w' = floor(w * f + 0.5) where f is one of TWO driver-known
    IEEE doubles (exp(-alpha) for correctly classified rows,
    exp(+alpha) for mistakes — alpha = 0.5*ln((W-err)/err) computed
    once on the driver from exact integer totals). Weighted error
    sums are therefore DECIMAL(38,0) aggregations with no float
    order dependence; a SQL oracle unrolls rounds as CTE layers
    replaying the identical floor expression. (w can exceed 2^53
    after enough rounds; both engines then round w identically via
    IEEE nearest in the double cast — deterministic, documented.)

    Stump search per round pays ONE groupBy over distinct feature
    values + one distributed prefix sum (never a row sort): for the
    candidate threshold t, polarity +1 predicts positive on
    x <= t, and err(+1) = W_neg(left) + W_pos(right); err(-1) is its
    complement. The argmin total order is (error ASC, threshold ASC,
    polarity +1 first). A round whose best error is 0 raises loudly
    (alpha would be infinite — the feature separates the labels;
    use `best_split`); err >= W/2 yields alpha <= 0 and is allowed
    (the standard M1 behavior, the ensemble just down-weights that
    stump).

    Labels must be integral/boolean in {0, 1} (guarded on the first
    pass). NULL feature/label rows are excluded. Returns one row per
    round: (round, threshold, polarity, err_q, w_total_q, alpha) —
    err_q / w_total_q are the exact integer weighted error and total
    (the quantized weights' units), alpha the stump's vote weight.
    """
    if n_rounds < 1:
        raise ValueError("adaboost_stumps: n_rounds >= 1")
    _guard_binary_label("adaboost_stumps", df, label_col)
    from hdfe_spark.operators.rank import prefix_sum

    base = (
        df.filter(
            F.col(feature_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(
            F.col(feature_col).alias("__x"),
            F.col(label_col).cast("long").alias("__y"),
        )
        .withColumn("__w", F.lit(1 << wbits).cast(_D38))
        .localCheckpoint(eager=True)
    )
    chk = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__y").alias("ymin"),
        F.max("__y").alias("ymax"),
    ).collect()[0]
    if int(chk["n"]) < 2:
        raise ValueError("adaboost_stumps: needs >= 2 rows")
    if int(chk["ymin"]) < 0 or int(chk["ymax"]) > 1:
        raise ValueError(
            f"adaboost_stumps: label_col {label_col!r} has values "
            "outside {0, 1}"
        )
    out = []
    for rnd in range(1, n_rounds + 1):
        cells = base.groupBy(F.col("__x").alias("__v")).agg(
            F.sum(F.col("__w") * F.col("__y")).cast(_D38).alias("__wp"),
            F.sum(F.col("__w") * (F.lit(1) - F.col("__y")))
            .cast(_D38)
            .alias("__wn"),
        )
        cum = prefix_sum(cells, ["__v"], ["__wp", "__wn"], ["__cp", "__cn"])
        tot = cum.agg(
            F.sum("__wp").cast(_D38).alias("wp"),
            F.sum("__wn").cast(_D38).alias("wn"),
        ).collect()[0]
        wp, wn = int(tot["wp"]), int(tot["wn"] or 0)
        w_total = wp + wn
        # err(+1) = left negatives + right positives (exact ints)
        err_plus = (
            F.col("__cn") + (F.lit(str(wp)).cast(_D38) - F.col("__cp"))
        ).cast(_D38)
        err_minus = (
            F.lit(str(w_total)).cast(_D38) - err_plus
        ).cast(_D38)
        scored = cum.select(
            F.col("__v"),
            F.when(err_plus <= err_minus, err_plus)
            .otherwise(err_minus)
            .alias("__err"),
            F.when(err_plus <= err_minus, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("__pol"),
        )
        best = scored.orderBy(
            F.col("__err").asc(), F.col("__v").asc(), F.col("__pol").desc()
        ).limit(1).collect()[0]
        err = int(best["__err"])
        thr, pol = best["__v"], int(best["__pol"])
        if err == 0:
            raise ValueError(
                "adaboost_stumps: a stump separates the labels "
                "perfectly (alpha infinite) — use best_split"
            )
        if w_total > (1 << 63) - 1:
            # the output schema's err_q/w_total_q are int64 (pinned
            # by the registered oracle); weights grow ~exp(alpha)
            # per round, so fail HERE with a usable message instead
            # of at the very end in createDataFrame (ADVICE r9)
            raise ValueError(
                f"adaboost_stumps: round {rnd} total weight "
                f"{w_total} exceeds int64 — lower weight_bits or "
                "n_rounds"
            )
        alpha = 0.5 * math.log((w_total - err) / err)
        f_ok = math.exp(-alpha)
        f_bad = math.exp(alpha)
        out.append((rnd, thr, pol, err, w_total, alpha))
        if rnd == n_rounds:
            break
        pred_pos = (
            (F.col("__x") <= F.lit(thr))
            if pol == 1
            else (F.col("__x") > F.lit(thr))
        )
        correct = pred_pos == (F.col("__y") == 1)
        base = base.withColumn(
            "__w",
            F.floor(
                F.col("__w").cast("double")
                * F.when(correct, F.lit(f_ok)).otherwise(F.lit(f_bad))
                + F.lit(0.5)
            ).cast(_D38),
        ).localCheckpoint(eager=True)
    ftype = df.schema[feature_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        out,
        f"round int, threshold {ftype}, polarity int, err_q long, "
        "w_total_q long, alpha double",
    )


def nb_train(
    df: DataFrame,
    class_col: str,
    token_col: str,
) -> DataFrame:
    """Multinomial Naive Bayes trainer over (class, token) rows —
    pure integer aggregation, the `event_transitions` output shape:
    one row per observed (class, token) with the token count and the
    class margin, trivially hash-exact on any engine.

    Input is one row per token OCCURRENCE (explode upstream with the
    engine's tokenizer); NULL class/token rows are excluded. Returns
    (class, token, n, n_class) where n_class is the class's total
    token count. Scale: one hash aggregation keyed by (class, token)
    with map-side combine + one class-keyed margin join — the same
    two-shuffle plan as the transition matrix.
    """
    base = df.filter(
        F.col(class_col).isNotNull() & F.col(token_col).isNotNull()
    ).select(
        F.col(class_col).alias("class"), F.col(token_col).alias("token")
    )
    counts = base.groupBy("class", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    margins = counts.groupBy(F.col("class").alias("__mc")).agg(
        F.sum("n").cast("long").alias("n_class")
    )
    return counts.join(
        margins, counts["class"] == margins["__mc"]
    ).select("class", "token", "n", "n_class")


def nb_score(
    tokens: DataFrame,
    model: DataFrame,
    doc_col: str,
    token_col: str,
    vocab_size: int,
    qbits: int = 20,
    max_classes: int = 1000,
) -> DataFrame:
    """Multinomial Naive Bayes scorer: classify each document by
    argmax over classes of Σ_tokens qlog(p(token|class)), with
    add-one smoothing p = (n + 1) / (n_class + vocab_size) and the
    log QUANTIZED to ``qbits`` fractional bits:

        qlog = floor(ln((n + 1) / (n_class + V)) * 2^qbits)

    so every per-document score is an exact INTEGER sum (order-free
    across engines — the `logistic2` quantization argument; ln() on
    the exact rational is one libm call per distinct (n, n_class)
    pair, and a floor-boundary collision needs a last-ulp
    disagreement landing within 2^-qbits of an integer). Uniform
    class prior (curation classifiers are trained on balanced
    slices; fold a prior in upstream by appending pseudo-tokens).

    Plan (100 TB shape): the class list is collected (bounded by
    ``max_classes``) and CROSS-JOINED against the document tokens as
    a broadcast — each token row fans out to n_classes rows, then
    one left join against the (class, token) model brings in qlog,
    with unseen tokens falling back to the class's smoothing floor
    qlog(1 / (n_class + V)). One (doc, class) aggregation and one
    per-doc argmin-struct finish it: two shuffles total, both keyed
    by the document.

    Returns (doc, pred_class, score_q, n_tokens): the argmax class
    (score DESC, class ASC tie-break — a total order), its integer
    score, and the doc's scored token count. Documents whose tokens
    are all NULL are absent (no score is defined).
    """
    if vocab_size < 1:
        raise ValueError("nb_score: vocab_size >= 1")
    Q = float(1 << qbits)
    classes = model.select(
        "class", "n_class"
    ).distinct()
    cls_rows = classes.limit(max_classes + 1).collect()
    if len(cls_rows) > max_classes:
        raise ValueError(
            f"nb_score: more than {max_classes} classes — raise "
            "max_classes"
        )
    if not cls_rows:
        raise ValueError("nb_score: empty model")
    spark = tokens.sparkSession
    cls = spark.createDataFrame(
        [(r["class"], int(r["n_class"])) for r in cls_rows],
        classes.schema,
    )
    qlog = F.floor(
        F.log(
            (F.col("n").cast("double") + F.lit(1.0))
            / (F.col("n_class").cast("double") + F.lit(float(vocab_size)))
        )
        * F.lit(Q)
    ).cast("long")
    weighted = model.select(
        F.col("class").alias("__c"),
        F.col("token").alias("__t"),
        qlog.alias("__ql"),
    )
    miss = F.floor(
        F.log(
            F.lit(1.0)
            / (F.col("n_class").cast("double") + F.lit(float(vocab_size)))
        )
        * F.lit(Q)
    ).cast("long")
    base = tokens.filter(
        F.col(doc_col).isNotNull() & F.col(token_col).isNotNull()
    ).select(
        F.col(doc_col).alias("doc"), F.col(token_col).alias("token")
    )
    fanned = base.crossJoin(
        F.broadcast(cls.select("class", miss.alias("__miss")))
    )
    scored = (
        fanned.join(
            weighted,
            (fanned["class"] == weighted["__c"])
            & (fanned["token"] == weighted["__t"]),
            "left",
        )
        .select(
            "doc",
            "class",
            F.coalesce(F.col("__ql"), F.col("__miss")).alias("__q"),
        )
        .groupBy("doc", "class")
        .agg(
            F.sum("__q").cast("long").alias("score_q"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    # argmax by (score DESC, class ASC): min-struct over the negated
    # always-numeric score (the label_propagation convention)
    pick = scored.groupBy("doc").agg(
        F.min(
            F.struct(
                (-F.col("score_q")).alias("ns"),
                F.col("class"),
                F.col("score_q"),
                F.col("n_tokens"),
            )
        ).alias("m")
    )
    return pick.select(
        "doc",
        F.col("m.class").alias("pred_class"),
        F.col("m.score_q").alias("score_q"),
        F.col("m.n_tokens").alias("n_tokens"),
    )


def confusion_stats(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Binary-classification confusion counts + derived metrics in
    ONE aggregation pass — the evaluation row every curation
    classifier (the NB/logistic/stump family above) gets scored
    with. Labels and predictions must be integral 0/1 (enforced by
    the shared integral-label guard); NULL label or prediction rows
    are excluded, mirroring SQL aggregate semantics.

    Returns one row: (n, tp, fp, fn, tn, accuracy, precision,
    recall, f1, mcc). The four counts are exact integer conditional
    sums (order-free on any engine); each metric is a single IEEE
    division of exact integers — deterministic, the `welch_ttest`
    convention. MCC's numerator tp*tn - fp*fn is an exact
    DECIMAL(38,0) product difference; its denominator is the fixed
    IEEE expression sqrt(d1*d2*d3*d4) over the four margin doubles
    (the exact four-margin integer product (n/2)^4 would overflow
    DECIMAL(38,0) past ~6e9 rows — the doubles are identical on
    both engines, so the expression is deterministic). Zero-denominator metrics are
    NULL, never NaN (SQL semantics both engines share).

    Scale: one narrow scan reduced map-side to four counters — the
    minimum possible work; no shuffle wider than one row.
    """
    _guard_binary_label("confusion_stats", df, label_col)
    _guard_binary_label("confusion_stats", df, pred_col)
    y = _bin01("confusion_stats", label_col, F.col(label_col).cast("long"))
    p = _bin01("confusion_stats", pred_col, F.col(pred_col).cast("long"))
    base = df.filter(y.isNotNull() & p.isNotNull())
    # coalesce(..., 0): an empty (or all-NULL) input must produce the
    # oracle's (0, 0, 0, 0, 0) row, not NULL counters (review r10)
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(c.cast("long")), F.lit(0)
    ).cast("long")
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt((y == 1) & (p == 1)).alias("tp"),
        cnt((y == 0) & (p == 1)).alias("fp"),
        cnt((y == 1) & (p == 0)).alias("fn"),
        cnt((y == 0) & (p == 0)).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    dbl = lambda c: c.cast("double")  # noqa: E731
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0, dbl(num) / dbl(den)
    )
    return agg.select(
        "n", "tp", "fp", "fn", "tn",
        ratio(tp + tn, F.col("n")).alias("accuracy"),
        ratio(tp, tp + fp).alias("precision"),
        ratio(tp, tp + fn).alias("recall"),
        # f1 = 2tp / (2tp + fp + fn): exact-integer denominator, one
        # division — algebraically the harmonic mean without the
        # intermediate precision/recall divisions (fewer IEEE ops,
        # same value contract on both engines)
        ratio(F.lit(2) * tp, F.lit(2) * tp + fp + fn).alias("f1"),
        F.when(
            (tp + fp > 0) & (tp + fn > 0) & (tn + fp > 0)
            & (tn + fn > 0),
            (
                tp.cast("decimal(38,0)") * tn
                - fp.cast("decimal(38,0)") * fn
            ).cast("double")
            / F.sqrt(
                dbl(tp + fp) * dbl(tp + fn) * dbl(tn + fp)
                * dbl(tn + fn)
            ),
        ).alias("mcc"),
    )


def precision_at_k(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    ks: "Sequence[int]" = (1, 5, 10),
) -> DataFrame:
    """Ranked-retrieval precision/recall at the given cutoffs over
    ONE global ranking by (score DESC, id ASC) — the deterministic
    total order the retrieval family (`bm25`, `cosine_topk`,
    `rrf_fuse`) emits. Relevance labels must be integral 0/1.

    Returns one row per k: (k, n_rel_at_k, precision, recall) with
    recall against the TOTAL number of relevant rows. Counts are
    exact integers; each metric is one IEEE division.

    Scale: `orderBy().limit(max k)` compiles to
    TakeOrderedAndProject — per-partition heaps of max(k) rows, one
    k-sized fan-in, never a global sort; the relevant-rows total is
    one map-side-combined counter on the same scan shape.
    """
    _guard_binary_label("precision_at_k", df, label_col)
    ks = sorted(set(int(k) for k in ks))
    if not ks or ks[0] < 1:
        raise ValueError("precision_at_k: cutoffs must be >= 1")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__s"),
        _bin01("precision_at_k", label_col, F.col(label_col).cast("long"))
        .alias("__y"),
    )
    n_rel = base.agg(F.sum("__y").cast("long").alias("nr"))
    top = (
        base.orderBy(F.col("__s").desc(), F.col("__id").asc())
        .limit(ks[-1])
        .select(
            "__y",
            F.row_number()
            .over(
                Window.orderBy(F.col("__s").desc(), F.col("__id").asc())
            )
            .alias("__r"),
        )
    )
    # ONE conditional aggregation over the single top-maxk pass (a
    # per-cutoff agg branch would re-run the TakeOrdered scan once
    # per k — review r10), then explode the k columns to rows
    hits = top.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("__r") <= k, F.col("__y"))),
                       F.lit(0))
            .cast("long")
            .alias(f"__h{k}")
            for k in ks
        ]
    )
    out = hits.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("k"),
                        F.col(f"__h{k}").alias("n_rel_at_k"),
                    )
                    for k in ks
                ]
            )
        ).alias("__kv")
    ).select(F.col("__kv.k").alias("k"),
             F.col("__kv.n_rel_at_k").alias("n_rel_at_k"))
    return out.crossJoin(F.broadcast(n_rel)).select(
        "k",
        "n_rel_at_k",
        (F.col("n_rel_at_k").cast("double") / F.col("k")).alias(
            "precision"
        ),
        F.when(
            F.col("nr") > 0,
            F.col("n_rel_at_k").cast("double") / F.col("nr"),
        ).alias("recall"),
    )


def _retrieval_base(df, query_col, id_col, score_col, rel_col, rel_expr):
    """Shared per-query retrieval scaffold (`ndcg_by`, `mrr`,
    `avg_precision_by`, `recall_at_k_by`): the NULL-filtered
    (q, __id, __s, __rel) projection plus the query-partitioned
    (score DESC, id ASC) ranking window — ONE spelling so the
    ranking contract (NULL handling, tie order) cannot drift
    between the four operators (the `_ordered_series` discipline).
    A NULL query is itself a query (the `hll_by` convention —
    groupBy/Window partitioning keep it). ``rel_expr`` is the
    operator's relevance Column (binary `_bin01` or the graded
    guard) over ``rel_col``."""
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(rel_col).isNotNull()
    ).select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__s"),
        rel_expr.alias("__rel"),
    )
    w = Window.partitionBy("q").orderBy(
        F.col("__s").desc(), F.col("__id").asc()
    )
    return base, w


def ndcg_by(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    qbits: int = 30,
) -> DataFrame:
    """Per-query NDCG@k with QUANTIZED discount weights, so the DCG
    sums are exact integers on any engine: rank items within each
    query by (score DESC, id ASC), take
    dcg_q = Σ_{r<=k} rel_r * w_q(r) with
    w_q(r) = round(2^qbits / log2(r + 1)) — the per-rank constants
    are computed ONCE in CPython (glibc libm, the `adaboost` parity
    argument) and inlined as integer literals into BOTH the Spark
    plan and the SQL oracle, so no engine evaluates log2 at all.
    The ideal ranking re-ranks by (rel DESC, id ASC); ndcg is the
    single IEEE division dcg_q / idcg_q.

    Relevance must be integral >= 0 (graded relevance in small
    integers — the standard 0-4 scale); queries with idcg_q = 0
    (all-zero relevance) return NULL ndcg. Returns one row per
    query: (query, n, dcg_q, idcg_q, ndcg).

    Scale: two rank columns over ONE query-partitioned window sort
    (rank by score; the ideal rank is a second window on the same
    partition key — AQE reuses the exchange), then one grouped
    integer aggregation. Parallel across queries; never a global
    sort.
    """
    if k < 1:
        raise ValueError("ndcg_by: k must be >= 1")
    no_output_collision(
        "ndcg_by", "query_col", query_col, ("n", "dcg_q", "idcg_q", "ndcg")
    )
    from hdfe_spark.operators.stats import _check_integral_y

    _check_integral_y(
        "ndcg_by", df, rel_col,
        "graded relevance must be integral (0-4 scale upstream)",
    )
    # rank -> quantized discount; literal integers, no runtime log2
    wq = {
        r: int(round((1 << qbits) / math.log2(r + 1)))
        for r in range(1, k + 1)
    }
    graded = (
        F.when(
            F.col(rel_col) < 0,
            F.raise_error(
                F.concat(
                    F.lit("ndcg_by: negative relevance: "),
                    F.col(rel_col).cast("string"),
                )
            ).cast("long"),
        )
        .otherwise(F.col(rel_col).cast("long"))
    )
    base, w_pred = _retrieval_base(
        df, query_col, id_col, score_col, rel_col, graded
    )
    w_ideal = Window.partitionBy("q").orderBy(
        F.col("__rel").desc(), F.col("__id").asc()
    )
    ranked = base.select(
        "q",
        "__rel",
        F.row_number().over(w_pred).alias("__rp"),
        F.row_number().over(w_ideal).alias("__ri"),
    )
    disc = lambda rank_col: F.element_at(  # noqa: E731
        F.lit([wq[r] for r in range(1, k + 1)]), rank_col
    )
    agg = ranked.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("__rp") <= k, F.col("__rel") * disc(F.col("__rp"))
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_q"),
        F.sum(
            F.when(
                F.col("__ri") <= k, F.col("__rel") * disc(F.col("__ri"))
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg_q"),
    )
    return agg.select(
        F.col("q").alias(query_col),
        "n",
        "dcg_q",
        "idcg_q",
        F.when(
            F.col("idcg_q") > 0,
            F.col("dcg_q").cast("double") / F.col("idcg_q").cast("double"),
        ).alias("ndcg"),
    )


def mrr(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
    qbits: int = 30,
) -> DataFrame:
    """Mean reciprocal rank at cutoff k — the first-hit retrieval
    metric (`ndcg_by`'s binary-relevance sibling): within each
    query, items rank by (score DESC, id ASC); rr_q = 1/rank of the
    FIRST relevant item if it appears within the top k, else 0.

    The cross-query mean of reciprocals is a float sum whose order
    an engine may not pin, so each reciprocal is QUANTIZED to the
    integer round(2^qbits / r) — computed ONCE in CPython for
    r = 1..k and inlined as literals into BOTH engines' plans (the
    `ndcg_by` discount convention) — making the sum exact and the
    final mrr ONE IEEE division rr_sum_q / (n_queries * 2^qbits).
    Relevance must be integral 0/1. Returns ONE row: (n_queries,
    n_hit, rr_sum_q, mrr); n_queries = 0 returns the zero-counters
    row with NULL mrr (the `confusion_stats` convention).

    Scale: one query-partitioned window rank (parallel across
    queries, never a global sort), one filter to first-hit rows,
    two map-side-combined counters."""
    if k < 1:
        raise ValueError("mrr: k must be >= 1")
    _guard_binary_label("mrr", df, rel_col)
    rq = {r: int(round((1 << qbits) / r)) for r in range(1, k + 1)}
    base, w = _retrieval_base(
        df, query_col, id_col, score_col, rel_col,
        _bin01("mrr", rel_col, F.col(rel_col).cast("long")),
    )
    ranked = base.select(
        "q", "__rel", F.row_number().over(w).alias("__rp")
    )
    first_hit = (
        ranked.filter((F.col("__rel") == 1) & (F.col("__rp") <= k))
        .groupBy("q")
        .agg(F.min("__rp").alias("__fr"))
    )
    # lazy 1-row query counter crossJoined back broadcast — no
    # driver action inside the operator. Counted via groupBy (NOT
    # count_distinct, which silently DROPS a NULL query while the
    # numerator's groupBy keeps its hit — mrr could exceed 1.0; the
    # scaffold's contract is "a NULL query is itself a query",
    # review r11)
    nq = (
        base.groupBy("q")
        .agg(F.lit(1).alias("__one"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    )
    rr = F.element_at(F.lit([rq[r] for r in range(1, k + 1)]), F.col("__fr"))
    agg = first_hit.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("long").alias(
            "n_hit"
        ),
        F.coalesce(F.sum(rr), F.lit(0)).cast("long").alias("rr_sum_q"),
    )
    return agg.crossJoin(F.broadcast(nq)).select(
        "n_queries",
        "n_hit",
        "rr_sum_q",
        F.when(
            F.col("n_queries") > 0,
            F.col("rr_sum_q").cast("double")
            / (F.lit(float(1 << qbits)) * F.col("n_queries").cast("double")),
        ).alias("mrr"),
    )


def avg_precision_by(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query average precision at cutoff k (the MAP components):
    AP@k_q = ( Σ_{r<=k, rel_r=1} P@r ) / min(R_q, k) with
    P@r = hits_{<=r} / r and R_q = the query's total relevant count.

    Every P@r is a rational with denominator r <= k, so the
    numerator sum is EXACT over the common denominator
    L = lcm(1..k): each hit at rank r contributes the integer
    hits_r * (L / r), the per-query sum ap_num is an exact integer,
    and ap = ap_num / (L * min(R_q, k)) is ONE IEEE division —
    engine-exact with no quantization error at all. Relevance must
    be integral 0/1; queries with R_q = 0 return NULL ap. Returns
    one row per query: (query, n, n_rel, ap_num, ap).

    Scale: one query-partitioned window rank + one running-hits
    window on the SAME partition key (AQE reuses the exchange),
    then one grouped integer aggregation. Parallel across queries;
    never a global sort."""
    if k < 1:
        raise ValueError("avg_precision_by: k must be >= 1")
    if k > 42:
        # lcm(1..43) = 9419588158802421600 > 2^63-1: the weight
        # literals (and ap_num, which approaches k*L) would overflow
        # int64 — fail loudly here instead of an opaque engine
        # NumberFormatException (review r11). k <= 42 keeps
        # k*L <= 9.2e18, inside int64.
        raise ValueError(
            "avg_precision_by: k must be <= 42 — lcm(1..k) exceeds"
            " int64 beyond that and the exact-rational ap_num would"
            " overflow"
        )
    _guard_binary_label("avg_precision_by", df, rel_col)
    no_output_collision(
        "avg_precision_by",
        "query_col",
        query_col,
        ("n", "n_rel", "ap_num", "ap"),
    )
    L = math.lcm(*range(1, k + 1))
    lw = {r: L // r for r in range(1, k + 1)}
    base, w = _retrieval_base(
        df, query_col, id_col, score_col, rel_col,
        _bin01("avg_precision_by", rel_col, F.col(rel_col).cast("long")),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = base.select(
        "q",
        "__rel",
        F.row_number().over(w).alias("__rp"),
        F.sum("__rel").over(wrun).alias("__hits"),
    )
    lw_arr = F.lit([lw[r] for r in range(1, k + 1)])
    term = F.when(
        (F.col("__rel") == 1) & (F.col("__rp") <= k),
        F.col("__hits") * F.element_at(lw_arr, F.col("__rp")),
    ).otherwise(F.lit(0))
    agg = ranked.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__rel").cast("long").alias("n_rel"),
        F.sum(term).cast("long").alias("ap_num"),
    )
    denom = F.lit(float(L)) * F.least(
        F.col("n_rel"), F.lit(k)
    ).cast("double")
    return agg.select(
        F.col("q").alias(query_col),
        "n",
        "n_rel",
        "ap_num",
        F.when(
            F.col("n_rel") > 0,
            F.col("ap_num").cast("double") / denom,
        ).alias("ap"),
    )


def recall_at_k_by(
    df: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    rel_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-query precision/recall at cutoff k — `precision_at_k`'s
    grouped sibling (that one ranks ONE global list; retrieval eval
    wants the per-query view MAP/MRR average over). Within each
    query, items rank by (score DESC, id ASC); hits = relevant rows
    in the top k. All counters exact integers; precision = hits/k
    and recall = hits/R_q are one IEEE division each. Relevance
    must be integral 0/1; queries with R_q = 0 return NULL recall.
    Returns one row per query: (query, n, n_rel, n_hit, precision,
    recall).

    Scale: one query-partitioned window rank, one grouped counter
    aggregation. Parallel across queries; never a global sort."""
    if k < 1:
        raise ValueError("recall_at_k_by: k must be >= 1")
    _guard_binary_label("recall_at_k_by", df, rel_col)
    no_output_collision(
        "recall_at_k_by",
        "query_col",
        query_col,
        ("n", "n_rel", "n_hit", "precision", "recall"),
    )
    base, w = _retrieval_base(
        df, query_col, id_col, score_col, rel_col,
        _bin01("recall_at_k_by", rel_col, F.col(rel_col).cast("long")),
    )
    ranked = base.select(
        "q", "__rel", F.row_number().over(w).alias("__rp")
    )
    agg = ranked.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__rel").cast("long").alias("n_rel"),
        F.coalesce(
            F.sum(F.when(F.col("__rp") <= k, F.col("__rel"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_hit"),
    )
    return agg.select(
        F.col("q").alias(query_col),
        "n",
        "n_rel",
        "n_hit",
        (F.col("n_hit").cast("double") / F.lit(float(k))).alias(
            "precision"
        ),
        F.when(
            F.col("n_rel") > 0,
            F.col("n_hit").cast("double") / F.col("n_rel").cast("double"),
        ).alias("recall"),
    )


def lift_table(
    df: DataFrame,
    id_col: str,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Decile lift/gains table — the model-triage view: rows ranked
    by (score DESC, id ASC) into ``n_buckets`` equal-depth buckets
    (ntile over the deterministic total order), then per bucket the
    response rate and cumulative lift vs the overall rate. Labels
    integral 0/1.

    Returns one row per bucket: (bucket, n, n_pos, rate, cum_n,
    cum_pos, cum_lift). Counts exact integers; rate / cum_lift are
    single IEEE divisions of exact integers (cum_lift =
    (cum_pos * n_total) / (cum_n * pos_total) computed as ONE
    division of two exact integer products — never a ratio of
    ratios). ntile over a total order is engine-portable: both
    engines assign floor-based equal-depth buckets to the identical
    row sequence.

    Scale: one range-partitioned `rank.exact_ntile` pass (never the
    single-task ntile() Window), then a ``n_buckets``-row
    aggregation and a window over those n_buckets rows.
    """
    _guard_binary_label("lift_table", df, label_col)
    if n_buckets < 2:
        raise ValueError("lift_table: n_buckets must be >= 2")
    from hdfe_spark.operators.rank import exact_ntile

    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        # exact_ntile orders ASCENDING by column names; negating the
        # score realizes (score DESC, id ASC) — exact for doubles
        (-F.col(score_col)).alias("__negs"),
        _bin01("lift_table", label_col, F.col(label_col).cast("long"))
        .alias("__y"),
    )
    # distributed NTILE (range shuffle + pinned blocks) — a bare
    # ntile() OVER (ORDER BY ...) funnels every row through ONE task
    # (review r10); exact_ntile hash-matches SQL NTILE semantics
    per = (
        exact_ntile(base, ["__negs", "__id"], n_buckets,
                    tile_col="bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
        )
    )
    wb = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "bucket",
        "n",
        "n_pos",
        F.sum("n").over(wb).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wb).cast("long").alias("cum_pos"),
        F.sum("n").over(wt).cast("long").alias("__nt"),
        F.sum("n_pos").over(wt).cast("long").alias("__pt"),
    )
    return cum.select(
        "bucket",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n")).alias("rate"),
        "cum_n",
        "cum_pos",
        F.when(
            (F.col("__pt") > 0) & (F.col("cum_n") > 0),
            (F.col("cum_pos") * F.col("__nt")).cast("double")
            / (F.col("cum_n") * F.col("__pt")).cast("double"),
        ).alias("cum_lift"),
    ).orderBy("bucket")


def cohen_kappa(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    labelings (annotator vs annotator, or model vs gold), MULTICLASS
    over any orderable label type. The algebra is arranged so the
    whole statistic is ONE division of exact integers:

        kappa = (po - pe) / (1 - pe)
              = (N*agree - S) / (N^2 - S),   S = sum_i row_i * col_i

    — numerator and denominator are exact DECIMAL(38,0) products of
    integer counts (order-free on any engine), so no float appears
    until the final division. NULL label/pred rows are excluded.

    Returns one row: (n, agree, po, pe, kappa); kappa is NULL when
    pe = 1 (a single class on both sides — undefined, never a
    crash). Empty or all-NULL input returns the ZERO-COUNTERS row
    (0, 0, NULL, NULL, NULL) — the `confusion_stats` empty-input
    convention, shared across the eval family. Plan: one (label, pred) aggregation, two class-sized
    margin rollups joined class-to-class (AQE-planned, class-space
    sized), two 1-row reductions — nothing row-sized ever reaches
    the driver."""
    y = F.col(label_col)
    p = F.col(pred_col)
    cm = (
        df.filter(y.isNotNull() & p.isNotNull())
        .groupBy(y.alias("__y"), p.alias("__p"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    # __n coalesced like __agree/__s: empty or all-NULL input is the
    # ZERO-COUNTERS row (0, 0, NULL, NULL, NULL) — the
    # confusion_stats empty-input convention, shared across the eval
    # family (advice r10)
    tot = cm.agg(
        F.coalesce(F.sum("__c"), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__y") == F.col("__p"), F.col("__c"))),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__agree"),
    )
    rows = cm.groupBy(F.col("__y").alias("__cls")).agg(
        F.sum("__c").cast("decimal(38,0)").alias("__r")
    )
    cols = cm.groupBy(F.col("__p").alias("__cls2")).agg(
        F.sum("__c").cast("decimal(38,0)").alias("__k")
    )
    s = rows.join(cols, rows["__cls"] == cols["__cls2"]).agg(
        F.coalesce(F.sum(F.col("__r") * F.col("__k")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__s")
    )
    j = tot.crossJoin(F.broadcast(s))
    num = F.col("__n") * F.col("__agree") - F.col("__s")
    den = F.col("__n") * F.col("__n") - F.col("__s")
    zeroD = F.lit(0).cast("decimal(38,0)")
    return j.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__agree").cast("long").alias("agree"),
        F.when(
            F.col("__n") > zeroD,
            F.col("__agree").cast("double")
            / F.col("__n").cast("double"),
        ).alias("po"),
        F.when(
            F.col("__n") > zeroD,
            F.col("__s").cast("double")
            / (F.col("__n") * F.col("__n")).cast("double"),
        ).alias("pe"),
        F.when(
            den != F.lit(0).cast("decimal(38,0)"),
            num.cast("double") / den.cast("double"),
        ).alias("kappa"),
    )


def brier_score(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    qbits: int = 30,
) -> DataFrame:
    """Brier score (mean squared error of a probabilistic
    classifier) with QUANTIZED per-row terms, so the distributed sum
    is exact: each row contributes round((p - y)^2 * 2^qbits) — the
    squared error is one deterministic IEEE expression per row, the
    rounding is engine-identical for non-negative values, and the
    DECIMAL(38,0) sum is order-free; the score is ONE final division
    brier_q / (n * 2^qbits). Labels integral 0/1; NULL label/prob
    rows excluded; probabilities outside [0, 1] raise (they are a
    caller bug a mean would silently absorb).

    Returns one row: (n, brier_q, brier). One map-side-combined
    aggregation — the minimum possible work."""
    _guard_binary_label("brier_score", df, label_col)
    p = F.col(prob_col)
    y = _bin01("brier_score", label_col, F.col(label_col).cast("long"))
    base = df.filter(p.isNotNull() & y.isNotNull())
    scale = float(1 << qbits)
    d = p - y.cast("double")
    term = F.round(d * d * F.lit(scale)).cast("decimal(38,0)")
    guard = F.when(
        (p < 0.0) | (p > 1.0),
        F.raise_error(
            F.concat(
                F.lit("brier_score: probability out of [0, 1]: "),
                p.cast("string"),
            )
        ).cast("decimal(38,0)"),
    ).otherwise(term)
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(guard), F.lit(0))
        .cast("decimal(38,0)")
        .alias("brier_q"),
    )
    return agg.select(
        "n",
        "brier_q",
        F.when(
            F.col("n") > 0,
            F.col("brier_q").cast("double")
            / (F.col("n").cast("double") * F.lit(scale)),
        ).alias("brier"),
    )


def calibration_bins(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    qbits: int = 20,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier — the
    per-bin table whose weighted |gap| sum is the Expected
    Calibration Error: probabilities land in ``n_bins`` fixed-width
    bins (floor(p * n_bins), p = 1.0 folded into the last bin —
    both engines floor the identical double), each bin reporting
    volume, positives, mean confidence, accuracy, and |conf - acc|.

    Exactness: per-row p is quantized once (round(p * 2^qbits), an
    exact integer), so the per-bin confidence sums are order-free
    DECIMAL(38,0); conf/acc/gap are two divisions and one
    subtraction of deterministic doubles. Emitting PER-BIN rows —
    not the scalar ECE — keeps every output free of an
    order-sensitive float sum over bins (callers fold the scalar in
    bin order if they want it). Labels integral 0/1 (in-plan domain
    guard); probabilities outside [0, 1] raise (the `brier_score`
    guard); NULL rows excluded.

    Returns one row per non-empty bin: (bin, n, n_pos, conf, acc,
    gap). One map-side-combined aggregation over <= n_bins rows."""
    _guard_binary_label("calibration_bins", df, label_col)
    if n_bins < 2:
        raise ValueError("calibration_bins: n_bins must be >= 2")
    p = F.col(prob_col)
    y = _bin01("calibration_bins", label_col, F.col(label_col).cast("long"))
    base = df.filter(p.isNotNull() & y.isNotNull())
    scale = float(1 << qbits)
    pq = F.round(p * F.lit(scale)).cast("decimal(38,0)")
    pq_guarded = F.when(
        (p < 0.0) | (p > 1.0),
        F.raise_error(
            F.concat(
                F.lit("calibration_bins: probability out of [0, 1]: "),
                p.cast("string"),
            )
        ).cast("decimal(38,0)"),
    ).otherwise(pq)
    b = F.least(
        F.floor(p * F.lit(n_bins)).cast("long"), F.lit(n_bins - 1)
    )
    per = (
        base.select(b.alias("bin"), y.alias("__y"), pq_guarded.alias("__pq"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
            F.sum("__pq").cast("decimal(38,0)").alias("__spq"),
        )
    )
    conf = F.col("__spq").cast("double") / (
        F.col("n").cast("double") * F.lit(scale)
    )
    acc = F.col("n_pos").cast("double") / F.col("n").cast("double")
    # unordered, like every sibling grouped operator — the caller
    # (or oracle) orders; an operator-side orderBy would add a sort
    # stage to every plan and block streaming delegation (review
    # r10b)
    return per.select(
        "bin", "n", "n_pos",
        conf.alias("conf"),
        acc.alias("acc"),
        F.abs(conf - acc).alias("gap"),
    )


def als_rank1(
    df: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    rscale: int = 100,
    qbits: int = 20,
) -> DataFrame:
    """Rank-1 alternating least squares over (user, item, rating) —
    one full ALS alternation computing the leading singular-vector
    item scores (the power-iteration step every recommender
    bootstrap runs; `item_cf`'s model-based sibling). With item
    factors initialized to 1:

        sweep 1:  u_i = mean of user i's ratings
        sweep 2:  v_j = sum_i r_ij u_i / sum_i u_i^2   (i rated j)

    Engine-exact: ratings quantize once (round(r * rscale), exact
    integers), sweep-1 means quantize to U_i = round(2^qbits *
    sum(rq)/(rscale * deg)) — ONE rounded IEEE division per user —
    and sweep 2 is pure exact-integer moments:
    v_j = (sum rq*U) * 2^qbits / (rscale * sum U^2), one final
    division. A SQL oracle unrolls both sweeps verbatim. Users
    whose U_i = 0 still participate (zero contribution); items
    rated only by such users have den = 0 and return NULL v.

    Returns one row per item: (item, n_ratings, v). Plan: one
    user-keyed aggregation, one AQE-planned join of the ratings
    against the user table, one item-keyed aggregation — the same
    two-shuffle class as `nb_train`; nothing driver-side.
    """
    if rscale < 1:
        raise ValueError("als_rank1: rscale must be >= 1")
    r = F.col(rating_col)
    base = df.filter(
        F.col(user_col).isNotNull()
        & F.col(item_col).isNotNull()
        & r.isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(item_col).alias("__i"),
        F.round(r * F.lit(float(rscale))).cast("long").alias("__rq"),
    )
    qs = float(1 << qbits)
    users = base.groupBy("__u").agg(
        F.sum("__rq").cast("decimal(38,0)").alias("__sr"),
        F.count(F.lit(1)).cast("long").alias("__deg"),
    )
    uq = users.select(
        F.col("__u").alias("__u2"),
        F.round(
            F.lit(qs)
            * F.col("__sr").cast("double")
            / (F.lit(float(rscale)) * F.col("__deg").cast("double"))
        )
        .cast("long")
        .alias("__U"),
    )
    # uq derives from base, so the join needs explicit frame
    # aliases — attribute-id reuse otherwise makes __U ambiguous
    joined = (
        base.alias("l")
        .join(uq.alias("r"), F.col("l.__u") == F.col("r.__u2"))
        .select(
            F.col("l.__i").alias("__i"),
            F.col("l.__rq").alias("__rq"),
            F.col("r.__U").alias("__U"),
        )
    )
    items = joined.groupBy("__i").agg(
        F.count(F.lit(1)).cast("long").alias("n_ratings"),
        F.sum(F.col("__rq").cast("decimal(38,0)") * F.col("__U"))
        .cast("decimal(38,0)")
        .alias("__num"),
        F.sum(F.col("__U").cast("decimal(38,0)") * F.col("__U"))
        .cast("decimal(38,0)")
        .alias("__den"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return items.select(
        F.col("__i").alias(item_col),
        "n_ratings",
        F.when(
            F.col("__den") > zero,
            F.col("__num").cast("double")
            * F.lit(qs)
            / (F.lit(float(rscale)) * F.col("__den").cast("double")),
        ).alias("v"),
    )
