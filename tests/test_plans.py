"""Plan-shape regression tests: the 100 TB checklist asserted on the
physical plans of every core operator. A change that adds a shuffle,
degrades a broadcast join to sort-merge, or un-prunes a parquet scan
fails here — not on the cluster.
"""

import pyspark.sql.functions as F
import pytest

from hdfe_spark.plans import assert_plan, plan_report
from hdfe_spark.plans.audit import explain_string


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_scan_prunes_columns(li):
    """2-column projection must reach the parquet scan as a 2-column
    ReadSchema (Catalyst column pruning)."""
    rep = plan_report(li.select("l_quantity", "l_discount"))
    assert len(rep["scan_schemas"]) == 1
    schema = rep["scan_schemas"][0]
    assert "l_quantity" in schema and "l_discount" in schema
    assert "l_comment" not in schema  # the wide column stays unread


def test_filter_pushdown_reaches_scan(li):
    rep = plan_report(li.filter(F.col("l_quantity") > 30).select("l_orderkey"))
    assert any("l_quantity" in f for f in rep["pushed_filters"])


def test_grouped_agg_single_shuffle(li):
    from hdfe_spark.operators.groupby import grouped_agg

    out = grouped_agg(li, ["l_returnflag"], {"l_quantity": ["mean", "sum"]})
    # one hash-partition exchange; partial (map-side) agg before it
    assert_plan(out, n_exchanges=1, n_python_stages=0)


def test_demean_agg_join_plan(li):
    """Optimization r15: demean compiles to groupBy + broadcast join
    back — the ONLY shuffle exchange carries one row per group (the
    aggregate), the base table is never exchanged, and the full-data
    window sort is gone."""
    from hdfe_spark.operators.groupby import demean

    out = demean(li, "l_suppkey", "l_quantity")
    rep = plan_report(out)
    assert rep["n_exchanges"] == 1  # the level-sized aggregate only
    assert rep["n_broadcast_joins"] >= 1
    assert "Window" not in explain_string(out, "simple")


def test_lags_single_window_pass(spark, sf_dir):
    from hdfe_spark.operators.lags import make_lags
    from hdfe_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    out, _ = make_lags(
        ev, n_lags_back=3, n_lags_forward=2,
        outcomes="value", groupby="user_id", order_by="ts",
    )
    # all 5 lag/lead columns from ONE shuffle+sort (one Window spec)
    assert_plan(out, n_exchanges=1, n_python_stages=0)


def test_factorize_broadcasts_code_table(li):
    from hdfe_spark.operators.encoding import factorize

    out = factorize(li, "l_returnflag")
    rep = assert_plan(out, n_sortmerge_joins=0)
    assert rep["n_broadcast_joins"] >= 1


def test_dummies_pure_projection(spark, sf_dir):
    from hdfe_spark.operators.encoding import make_dummies

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out, _ = make_dummies(od, "o_orderstatus", levels=["F", "O", "P"])
    # with levels supplied there is no distinct/no join: zero shuffles
    assert_plan(out, n_exchanges=0, n_python_stages=0)


def test_exact_dedup_single_shuffle(docs):
    from hdfe_spark.operators.dedup import exact_dedup_by_hash

    assert_plan(exact_dedup_by_hash(docs), n_exchanges=1)


def test_text_ops_no_shuffle(docs):
    from hdfe_spark.operators.text import lang_id, quality_score, token_stats

    for op in (quality_score, lang_id):
        assert_plan(op(docs), n_exchanges=0, n_python_stages=0)
    # token_stats may round-robin a too-narrow scan (_spread) but must
    # never key-shuffle or leave the JVM.
    rep = assert_plan(token_stats(docs), n_exchanges_max=1, n_python_stages=0)
    assert rep.get("n_hash_exchanges", 0) == 0


def test_cosine_topk_uses_heap_not_sort(spark, sf_dir):
    import numpy as np

    from hdfe_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk(emb, np.ones(64), k=10)
    rep = plan_report(out)
    assert rep["has_take_ordered"]  # per-partition heaps + k-row merge
    assert rep["n_python_stages"] == 1  # exactly one Arrow batch stage


def test_within_estimator_residual_plan(spark, sf_dir):
    """Plan B residual pipeline: one window shuffle (demean) + one agg
    shuffle (FE means) + a broadcast join to net FEs — no sort-merge
    join, no extra exchanges."""
    from hdfe_spark.operators.estimate import estimate
    from hdfe_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir)
    res = estimate(
        li, "l_extendedprice", ["l_quantity"],
        categorical_controls=["l_suppkey"], get_residual=True,
    )
    rep = plan_report(res.residuals)
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_broadcast_joins"] >= 1


def test_knn_join_no_full_sort(spark, sf_dir):
    """knn_join's global stage must window over pre-reduced local
    top-k candidates — one Python stage, no corpus-wide sort of raw
    scores beyond the candidate window."""
    import numpy as np

    from hdfe_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qdf = spark.createDataFrame(
        [(0, np.ones(64).tolist())], "query_id long, embedding array<double>"
    )
    out = knn_join(emb, qdf, k=5)
    rep = plan_report(out)
    assert rep["n_python_stages"] == 1  # one mapInPandas scoring pass
    # the only exchange is the candidate window's hash partitioning
    assert rep["n_exchanges"] <= 1


def test_decode_media_single_python_stage(spark):
    """Mixed-modality decode: one mapInPandas pass, payload dropped
    in-stage, zero shuffles."""
    from hdfe_spark.operators.multimodal import decode_media, make_codec_assets

    out = decode_media(make_codec_assets(spark, n=32))
    assert_plan(out, n_exchanges=0, n_python_stages=1)


def test_tfidf_n_count_rides_the_plan(docs):
    """tf_idf's corpus-size N is a broadcast 1-row aggregate INSIDE the
    lazy plan — no eager driver count job, and the only joins are
    broadcasts (docfreq + N)."""
    from hdfe_spark.operators.text import tf_idf

    out = tf_idf(docs, top_k=3)
    rep = plan_report(out)
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_broadcast_exchanges"] >= 2  # docfreq + N
    assert rep["n_python_stages"] == 0  # tokenization stays JVM-side


def test_ann_lsh_probe_reuses_index(spark, sf_dir):
    """A probe against a prebuilt lsh_index must NOT recompute corpus
    signatures: the plan scans the checkpointed signed corpus (no
    Arrow signature stage) and keeps the heap-based top-k."""
    import numpy as np

    from hdfe_spark.operators.similarity import ann_topk_lsh, lsh_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = lsh_index(emb, n_planes=4, n_tables=4)
    out = ann_topk_lsh(None, np.ones(64), k=5, index=idx)
    rep = plan_report(out)
    assert rep["has_take_ordered"]
    assert rep["n_python_stages"] == 1  # cosine scoring only, not signatures
    assert rep["n_exchanges"] == 0


def test_join_agg_topk_plan(spark, sf_dir):
    """The Q3-shaped join must broadcast the dimension sides (no
    sort-merge join at this scale), push the segment filter into the
    customer scan, and compile the top-10 to TakeOrderedAndProject."""
    import __spark_entry__ as em

    out = em.queries()["join_agg_topk"](spark, sf_dir)
    rep = plan_report(out)
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_broadcast_joins"] >= 2
    assert rep["has_take_ordered"]
    assert any("c_mktsegment" in f for f in rep["pushed_filters"])


def test_sql_entrypoint_pushes_filter(spark, sf_dir):
    """The SQL-string entry point compiles to the same pushed-down
    scan as the DataFrame API: the shipdate predicate must reach the
    parquet scan, and the plan must contain a partial (map-side)
    aggregation before the exchange."""
    import __spark_entry__ as em

    out = em.queries()["sql_q1"](spark, sf_dir)
    rep = plan_report(out)
    assert any("l_shipdate" in f for f in rep["pushed_filters"])
    assert rep["n_exchanges"] <= 1  # one shuffle for the final agg


def test_tpch_q3_plan(spark, sf_dir):
    """The OLAP flagship shape: dimension filters broadcast, no
    sort-merge join, global top-k as per-partition heaps, filters
    pushed to the scans."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["tpch_q3"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 1
    assert rep["n_sortmerge_joins"] == 0
    assert rep["has_take_ordered"]
    assert rep["n_python_stages"] == 0


def test_weighted_sample_plan(spark, sf_dir):
    """Weighted top-k must be a narrow projection + heap top-k: zero
    shuffles, zero Python."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["weighted_sample"](spark, sf_dir))
    assert rep["n_exchanges"] == 0
    assert rep["has_take_ordered"]
    assert rep["n_python_stages"] == 0


def test_semi_anti_join_plan(spark, sf_dir):
    """Existence joins against the filtered orders side must
    broadcast, never sort-merge."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["semi_anti_join"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 2
    assert rep["n_sortmerge_joins"] == 0


def test_rebalance_plan_is_broadcast_filter(spark, sf_dir):
    """The keep decision must be a broadcast-joined codegen filter on
    the corpus scan — no corpus-sized shuffle."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["rebalance_sources"](spark, sf_dir))
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_python_stages"] == 0


def test_tpch_q5_plan(spark, sf_dir):
    """Six-table star: all four dimension chains broadcast; the only
    shuffle join is fact-fact; no Python."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["tpch_q5"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 4
    assert rep["n_python_stages"] == 0


def test_tpch_q18_plan(spark, sf_dir):
    """The HAVING-subquery semi-join (group-agg feeding an IN
    filter): the aggregated inner must BROADCAST into a left-semi
    join — never a shuffled join on the subquery side — and the
    deterministic top-100 must be per-partition heaps, not a global
    sort. Customer dimension also broadcasts; no Python anywhere."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["tpch_q18"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 2  # semi-join inner + customer
    assert rep["n_sortmerge_joins"] == 0
    assert rep["has_take_ordered"]
    assert rep["n_python_stages"] == 0


def test_inverted_index_plan(spark, sf_dir):
    """Posting fetch must broadcast the 5-token vocabulary slice back
    onto the exploded corpus — no sort-merge join, no Python; the
    rare-token selection is a heap top-k."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["inverted_index"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 1
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_python_stages"] == 0


def test_label_centroids_plan(spark, sf_dir):
    """Vector mean-pooling: the n x 64 posexplode inflation must
    collapse via map-side partial aggregation to 640 groups before
    the single shuffle; pure JVM end to end."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["label_centroids"](spark, sf_dir))
    assert rep["n_exchanges"] <= 1
    assert rep["n_python_stages"] == 0


def test_tpch_q21_plan(spark, sf_dir):
    """The correlated-EXISTS decorrelation: both existence subqueries
    must compile to HASH semi/anti joins on the orderkey equi-key
    with the suppkey inequality as a join residual — NEVER a
    BroadcastNestedLoopJoin (which would be the all-pairs disaster at
    scale); dimensions broadcast; top-100 via heaps."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["tpch_q21"](spark, sf_dir)
    rep = plan_report(out)
    simple = explain_string(out, "simple")
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert rep["n_broadcast_joins"] >= 2  # supplier + nation (+ semis)
    assert rep["has_take_ordered"]
    assert rep["n_python_stages"] == 0


def test_interval_join_plan_no_nested_loop(spark, sf_dir):
    """The overlap rewrite must be a hash equi-join on
    (key, bucket) — the inequality predicate rides as a filter, never
    a BroadcastNestedLoopJoin/CartesianProduct."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["interval_join"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_setsim_join_plan_no_nested_loop(spark, sf_dir):
    """Prefix-filter similarity join: candidate generation and both
    verify joins must be hash equi-joins (the a.id < b.id predicate
    rides as a residual), never BroadcastNestedLoopJoin/Cartesian —
    and the whole pipeline is Python-free (JVM codegen shingling)."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["setsim_join"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_dup_ngram_spans_plan_python_free(spark, sf_dir):
    """ExactSubstr-style span stats: shingling is a codegen
    projection, the dup-gram set is a hash aggregation, and no stage
    drops to Python."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["dup_ngram_spans"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_tpch_q4_plan_hash_semi_join(spark, sf_dir):
    """The EXISTS must decorrelate to a hash LEFT SEMI join on the
    orderkey equi-key with the shipdate inequality as residual —
    never a nested-loop."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["tpch_q4"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert "LeftSemi" in simple


def test_triangle_count_plan_no_nested_loop(spark, sf_dir):
    """Graph build + oriented wedge join: all hash equi-joins; the
    only allowed broadcast-nested-loop is the final 1-row total (none
    here — count is an aggregation)."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["triangle_count"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "CartesianProduct" not in simple
    assert "BroadcastNestedLoopJoin" not in simple


def test_cms_certificate_plan_python_free(spark, sf_dir):
    """CMS build + probe: md5 bucketing is codegen, the sketch join
    is broadcast, nothing drops to Python."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["cms_certificate"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_agg_refresh_plan_outer_join_no_nested_loop(spark, sf_dir):
    """Incremental view refresh: the merge is a keyed full-outer
    hash join of two aggregates — no nested loop, no Python."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string

    out = em.queries()["agg_refresh"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "BroadcastNestedLoopJoin" not in simple
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_tpch_suite_plans_no_python_no_cartesian(spark, sf_dir):
    """Suite-wide invariant for the 15 queries completing TPC-H:
    every plan stays JVM-side (no Arrow/Python stages) and contains
    no cartesian product; every plan pushes at least one filter into
    a parquet scan (Q16/Q19's only filters are IN/OR-composites that
    partially push; presence, not count, is asserted)."""
    import __spark_entry__ as em

    q = em.queries()
    for name in (
        "tpch_q2", "tpch_q6", "tpch_q7", "tpch_q8", "tpch_q9",
        "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q14", "tpch_q15",
        "tpch_q16", "tpch_q17", "tpch_q19", "tpch_q20", "tpch_q22",
    ):
        out = q[name](spark, sf_dir)
        rep = plan_report(out)
        from hdfe_spark.plans.audit import explain_string as _es
        simple = _es(out, "simple")
        assert rep["n_python_stages"] == 0, name
        assert "CartesianProduct" not in simple, name
        assert rep["n_sortmerge_joins"] == 0, name


def test_tpch_q6_is_pure_scan(spark, sf_dir):
    """Q6 is the scan-throughput floor: one shuffle (the 1-row final
    combine), zero joins, shipdate/discount/quantity all pushed."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["tpch_q6"](spark, sf_dir))
    assert rep["n_exchanges"] == 1
    assert rep["n_broadcast_joins"] == 0
    assert any("l_shipdate" in f for f in rep["pushed_filters"])
    assert any("l_discount" in f for f in rep["pushed_filters"])


def test_tpch_q8_deep_join_all_broadcast(spark, sf_dir):
    """Q8's seven dimension joins around lineitem must ALL broadcast;
    the one exchange is the final group-by-year aggregation."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["tpch_q8"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 6
    assert rep["n_exchanges"] <= 2


def test_tpch_q10_topk_is_heap(spark, sf_dir):
    """Q10's top-20 must compile to TakeOrderedAndProject
    (per-partition heaps), never a global sort."""
    import __spark_entry__ as em

    rep = plan_report(em.queries()["tpch_q10"](spark, sf_dir))
    assert rep["has_take_ordered"]
    assert rep["n_sortmerge_joins"] == 0


def test_tpch_q20_semi_chain_broadcasts(spark, sf_dir):
    """Q20's nested semi-join chain: the qualifying-supplier set is
    bounded by |supplier| so it must broadcast, never sort-merge."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string as _es

    out = em.queries()["tpch_q20"](spark, sf_dir)
    rep = plan_report(out)
    assert rep["n_sortmerge_joins"] == 0
    assert "LeftSemi" in _es(out, "simple")


def test_dpp_plan_has_runtime_partition_filter(spark, sf_dir):
    """The partitioned-fact join must carry a dynamic-partition-
    pruning subquery in its PartitionFilters — the fact scan reads
    only the dim-selected directories at runtime."""
    import __spark_entry__ as em
    from hdfe_spark.plans.audit import explain_string as _es

    out = em.queries()["dpp_pruned_join"](spark, sf_dir)
    formatted = _es(out, "formatted")
    assert "dynamicpruning" in formatted, formatted[:2000]
    rep = plan_report(out)
    assert rep["n_broadcast_joins"] >= 1
    assert rep["n_sortmerge_joins"] == 0


def test_stats_family_plans_python_free(spark, sf_dir):
    """The whole stats/ML family stays JVM-side: no Python stages,
    no cartesian products, anywhere."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in ["ab_ttest", "chi2_contingency", "ols_ridge",
                 "mann_whitney", "ks_test", "spearman",
                 "target_encode", "standardize", "ewma",
                 "log_parse", "attribution", "gap_fill"]:
        out = qs[name](spark, sf_dir)
        simple = explain_string(out, "simple")
        assert "CartesianProduct" not in simple, name
        rep = plan_report(out)
        assert rep["n_python_stages"] == 0, name


def test_standardize_is_single_projection_scan(spark, sf_dir):
    """After the one moment scan (an action inside the operator),
    the returned frame is a pure codegen projection over the parquet
    scan — zero exchanges, zero joins."""
    import __spark_entry__ as em

    out = em.queries()["standardize"](spark, sf_dir)
    assert_plan(out, n_exchanges=0, n_broadcast_joins=0,
                n_sortmerge_joins=0)


def test_chi2_margins_broadcast(spark, sf_dir):
    """The contingency cells shuffle once; margins and the grand
    total join back as broadcasts — no sort-merge join of tiny
    aggregates."""
    import __spark_entry__ as em

    out = em.queries()["chi2_contingency"](spark, sf_dir)
    rep = assert_plan(out, n_sortmerge_joins=0)
    assert rep["n_broadcast_joins"] >= 3


def test_target_encode_single_join_no_window(spark, sf_dir):
    """Encoding is one join of the category table back onto the
    rows plus a codegen projection — no window operator (a per-row
    window LOO would sort every category group)."""
    import __spark_entry__ as em

    out = em.queries()["target_encode"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "Window" not in simple
    assert plan_report(out)["n_sortmerge_joins"] == 0


def test_nonparametrics_no_global_single_partition_window(spark, sf_dir):
    """The rank family's cell kernel (both count layouts: the globals'
    literal group, and a real group with the within-group join): the
    cumulative pass must be the rank.py distributed prefix sum — any
    Window in the plan must be partitioned by the range-partition id,
    never a global partition-less window (`Window [..] ORDER BY` with
    empty PARTITION BY funnels the table through one task) nor a
    group-partitioned one (a hot group in one task)."""
    import __spark_entry__ as em
    from hdfe_spark.operators.stats import _two_arm_cells

    ev = em.queries.__globals__["_t"](spark, sf_dir, "events")
    side = F.col("event_type")
    for group, within in ((F.lit(0), False), (F.col("user_id") % 10, True)):
        cells = _two_arm_cells(
            ev, group, side, "value", "click", "view", "test", within
        )
        windows = [
            ln for ln in explain_string(cells, "simple").splitlines()
            if "Window" in ln
        ]
        # rank.py's window partitions by __pid; a global window would
        # show "Window [...], [v ASC" with no partition spec
        assert windows and all("__pid" in ln for ln in windows), windows


def test_rolling_beta_single_window_pass(spark, sf_dir):
    """The five sliding moments + lags compile into window work over
    ONE (key) exchange — no join, no Python."""
    import __spark_entry__ as em

    out = em.queries()["rolling_beta"](spark, sf_dir)
    rep = plan_report(out)
    assert rep["n_python_stages"] == 0
    assert rep["n_broadcast_joins"] == 0
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_hash_exchanges"] <= 1


def test_kfold_scoring_join_broadcasts(spark, sf_dir):
    """The fold->beta table (5 rows) must broadcast onto the scoring
    scan — a shuffled join of a 5-row table would be a plan bug."""
    import __spark_entry__ as em

    out = em.queries()["kfold_cv"](spark, sf_dir)
    rep = plan_report(out)
    assert rep["n_sortmerge_joins"] == 0
    assert rep["n_python_stages"] == 0


def test_bootstrap_is_single_scan_no_explode(spark, sf_dir):
    """All 16 replicates ride as aggregate expressions over ONE scan
    — no row-amplifying explode/join may appear before the agg.
    (The returned frame is driver-built literals; assert on the
    operator's aggregation plan instead.)"""
    import pyspark.sql.functions as F

    from hdfe_spark.operators.sampling import _poisson_weight
    from hdfe_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir)
    u = F.round(F.col("value") * 1e6).cast("decimal(38,0)")
    aggs = []
    for r in range(16):
        w = _poisson_weight(F.col("event_id"), r)
        aggs.append(F.sum(w).alias(f"w_{r}"))
        aggs.append(F.sum(w.cast("decimal(38,0)") * u).alias(f"wy_{r}"))
    plan = ev.filter(F.col("value").isNotNull()).agg(*aggs)
    simple = explain_string(plan, "simple")
    assert "Generate" not in simple  # no explode
    assert "Join" not in simple
    rep = plan_report(plan)
    assert rep["n_python_stages"] == 0
    # one partial + one final aggregate over one scan
    assert simple.count("HashAggregate") <= 2 or "SortAggregate" in simple


def test_gap_fill_single_spine_join(spark, sf_dir):
    """Spine join + two frame-bounded windows; no python, no
    cartesian, no sort-merge join of the tiny spans table."""
    import __spark_entry__ as em

    out = em.queries()["gap_fill"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_r7_stats_plans_python_free(spark, sf_dir):
    """Round-7 batch: anova/levene/pca2/autocorr/cusum stay JVM-side
    with no cartesian products; autocorr's window is key-partitioned
    (never a global sort)."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in ["anova", "levene", "pca2", "autocorr", "cusum"]:
        out = qs[name](spark, sf_dir)
        simple = explain_string(out, "simple")
        assert "CartesianProduct" not in simple, name
        rep = plan_report(out)
        assert rep["n_python_stages"] == 0, name


def test_autocorr_partitioned_window_single_shuffle(spark, sf_dir):
    """The lag pairing and the moment aggregation share ONE key
    exchange; every Window is PARTITION BY the key."""
    import __spark_entry__ as em

    out = em.queries()["autocorr"](spark, sf_dir)
    rep = plan_report(out)
    assert rep["n_hash_exchanges"] <= 1
    simple = explain_string(out, "simple")
    for line in simple.splitlines():
        if "Window" in line:
            assert "user_id" in line, line


def test_span_scrub_no_python_no_cartesian(spark, sf_dir):
    """The ExactSubstr rewrite is pure JVM: shingling projection,
    gram-keyed aggregation, cover explode, anti-join, ordered
    re-assembly — zero Python stages, zero cartesian products."""
    import __spark_entry__ as em

    out = em.queries()["span_scrub"](spark, sf_dir)
    simple = explain_string(out, "simple")
    assert "CartesianProduct" not in simple
    assert plan_report(out)["n_python_stages"] == 0


def test_dedup_reps_window_partitioned_by_cluster(spark, sf_dir):
    """Representative selection windows are partitioned (by the
    content-hash cluster) — parallel across clusters, never a
    global sort."""
    import __spark_entry__ as em

    out = em.queries()["dedup_reps"](spark, sf_dir)
    simple = explain_string(out, "simple")
    for line in simple.splitlines():
        if "Window" in line:
            assert "__h" in line or "cluster" in line, line


def test_weighted_quantiles_no_global_window(spark, sf_dir):
    """The cumulative-weight pass is the rank.py distributed prefix
    sum: any Window must be partitioned by the range-partition id,
    never a global partition-less window."""
    import __spark_entry__ as em

    out = em.queries()["weighted_quantiles"](spark, sf_dir)
    simple = explain_string(out, "simple")
    for line in simple.splitlines():
        if "Window" in line:
            assert "__pid" in line, line


def test_gopher_rules_zero_shuffle(docs):
    """Gopher quality rules are stateless row expressions — zero
    exchanges, zero Python stages (the `passes` filter can push
    into the scan stage at 100 TB)."""
    from hdfe_spark.operators.text import gopher_rules

    out = gopher_rules(docs, min_words=10)
    assert_plan(out, n_exchanges=0, n_python_stages=0)


def test_skipgram_pairs_one_exchange(docs):
    """Skip-gram counting is per-distance zip_with + ONE pair-keyed
    aggregation: exactly one exchange (plus the _spread round-robin
    when the local fixture scan is narrower than the core count —
    tolerated), zero joins, zero Python."""
    from hdfe_spark.operators.text import skipgram_pairs
    from hdfe_spark.plans import plan_report

    out = skipgram_pairs(docs, "text", window=2, min_count=5)
    rep = plan_report(out)
    assert rep["n_broadcast_joins"] + rep["n_sortmerge_joins"] == 0
    assert rep["n_python_stages"] == 0
    assert rep["n_exchanges"] <= 2  # agg (+ optional _spread)


def test_confusion_stats_single_pass(spark, sf_dir):
    """The confusion row is one map-side-combined global aggregate:
    one exchange (the 1-row final agg), nothing Python."""
    from hdfe_spark.operators.ml import confusion_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("event_id") % 2).cast("long").alias("y"),
        (F.col("value") > 0.5).cast("long").alias("p"),
    )
    out = confusion_stats(ev, "y", "p")
    assert_plan(
        out, n_exchanges=1, n_python_stages=0,
        n_broadcast_joins=0, n_sortmerge_joins=0,
    )


def test_auc_by_no_global_sort(spark, sf_dir):
    """Per-group AUC ranks come from counts + the rank kernel's
    distributed prefix sum — no global (single-partition) sort, no
    Python anywhere, and the only Window is the prefix sum's
    partition-local one (PARTITION BY __pid), never one partitioned
    by the group."""
    from hdfe_spark.operators.stats import auc_by
    from hdfe_spark.plans.audit import explain_string

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.col("value").alias("s"),
        (F.col("event_id") % 2).cast("long").alias("y"),
    )
    out = auc_by(ev, "event_type", "y", "s")
    plan = explain_string(out)
    assert "SinglePartition" not in plan
    windows = [
        ln for ln in explain_string(out, "simple").splitlines()
        if "Window [" in ln
    ]
    assert windows and all("__pid" in ln for ln in windows), windows
    assert_plan(out, n_python_stages=0)
