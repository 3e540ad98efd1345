"""The three workloads: their steps, each a call into one layer of
``hdfe_spark`` followed by a sink, and each step's correctness check.

A step's ``call`` returns an :class:`Out`.  Its ``df`` (if any) is the
sink query, or a list of them.  Inside the step timer the runner sinks
each one as the step's ``collect`` says: ``"pandas"`` (``toPandas``
over Arrow) or ``"rows"`` (``collect``) brings every row to the driver,
so the check needs no second Spark run; ``None`` writes it to Spark's
``noop`` sink, which computes every column of every row, and the check
re-runs it filtered to sampled keys (the panel_scale outputs, which
are too large to collect).  ``value`` holds whatever the layer already
returned to the driver (numpy slopes, a collected pair list).
``check`` runs after the timer and returns True when the output
matches a local numpy/pandas computation over the same generated
arrays.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property
from typing import Any, Callable

import numpy as np

from perfbench import inputs


@dataclass
class Out:
    df: Any = None  # a sink DataFrame, or a list of them
    value: Any = None
    collect: str | None = None  # "pandas", "rows" or None (noop sink)
    rows: Any = None  # what the sink collected: one result per ``df``, or the only one

    @property
    def sinks(self) -> list:
        if self.df is None:
            return []
        return self.df if isinstance(self.df, list) else [self.df]


@dataclass(frozen=True)
class Step:
    name: str
    layer: str
    call: Callable[["Ctx"], Out]
    check: Callable[["Ctx", Out], bool]


# ------------------------------------------------------------- helpers


def _group_mean(v: np.ndarray, g: np.ndarray, ng: int) -> np.ndarray:
    return np.bincount(g, v, ng) / np.maximum(np.bincount(g, minlength=ng), 1)


def _demean(X: np.ndarray, g: np.ndarray, ng: int) -> np.ndarray:
    return np.column_stack([X[:, j] - _group_mean(X[:, j], g, ng)[g] for j in range(X.shape[1])])


def _demean_2fe(X, ga, na, gb, nb, tol=1e-13, max_iter=5000) -> np.ndarray:
    """Alternating projections onto both FE spaces to convergence."""
    Z = X.copy()
    scale = np.abs(X).max()
    for _ in range(max_iter):
        prev = Z
        Z = _demean(_demean(Z, ga, na), gb, nb)
        if np.abs(Z - prev).max() <= tol * scale:
            return Z
    raise RuntimeError("2-FE oracle did not converge")


def _ols(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    return np.linalg.lstsq(X, y, rcond=None)[0]


def _cluster_se(X, e, g, ng) -> np.ndarray:
    """Liang–Zeger sandwich SE with the CR1 small-sample factor."""
    n, k = X.shape
    U = np.column_stack([np.bincount(g, X[:, j] * e, ng) for j in range(k)])
    bread = np.linalg.inv(X.T @ X)
    c = ng / (ng - 1) * (n - 1) / (n - k)
    return np.sqrt(np.diag(c * bread @ (U.T @ U) @ bread))


def _close(a, b, rtol=1e-6, atol=1e-9) -> bool:
    return bool(np.allclose(np.asarray(a, float), np.asarray(b, float), rtol=rtol, atol=atol))


def _sampled(df, key: str, keys):
    """Re-run a noop-sunk output for the sampled ``keys`` only."""
    from pyspark.sql import functions as F

    return df.filter(F.col(key).isin([int(k) for k in keys])).toPandas()


def _same(a, b) -> bool:
    """Exact equality, NaN matching NaN (copied values, e.g. lags)."""
    return bool(np.array_equal(np.asarray(a, float), np.asarray(b, float), equal_nan=True))


def _same_ids(a, b) -> bool:
    """The same multiset of ids."""
    return bool(np.array_equal(np.sort(np.asarray(a)), np.sort(np.asarray(b))))


def _transform_matches(got, frame, key: str, col: str) -> bool:
    """``got`` has one row per row of ``frame`` (the rows of whole
    groups), with the group mean and count of ``col`` broadcast back."""
    g = frame.groupby(key)[col]
    return (
        _same_ids(got[key], frame[key])
        and _close(got["mean_" + col], got[key].map(g.mean()))
        and _same(got["count_" + col], got[key].map(g.count()))
    )


def _lags_match(got, frame, ent: str, order: str, col: str, lags, row_id: str) -> bool:
    """``got`` has the rows of ``frame`` (whole entities), and each lag
    column equals pandas' shift within the entity."""
    want = frame.sort_values([ent, order]).set_index(row_id)
    have = got.set_index(row_id).reindex(want.index)
    return _same_ids(got[row_id], frame[row_id]) and all(
        _same(have[f"{col}_lag_{lag}"], want.groupby(ent)[col].shift(lag)) for lag in lags
    )


def _se(res) -> np.ndarray:
    V = res.V[0]
    return np.sqrt(np.diag(V)[-len(res.x_cols):])


class Ctx:
    """One workload's inputs for one run: the Spark session, the parquet
    root, the generated arrays and lazily computed local oracles."""

    def __init__(self, spark, seed: int, root: str, data: dict, trace: bool = False):
        self.spark = spark
        self.trace = trace
        self.seed = seed
        self.root = root
        self.data = data
        self.scratch: dict = {}

    def table(self, name: str):
        from hdfe_spark.sources.tables import load_table

        return load_table(self.spark, name, self.root)

    def sample(self, values: np.ndarray, k: int = 16) -> np.ndarray:
        u = np.unique(values)
        return np.random.default_rng([self.seed, 7]).choice(u, size=min(k, len(u)), replace=False)

    # --- panel_fixture oracles (lineitem: y on qty, disc)
    @cached_property
    def li(self) -> dict:
        li = self.data["lineitem"]
        X = np.column_stack([li["l_quantity"], li["l_discount"]])
        return {"X": X, "y": li["l_extendedprice"], "supp": li["l_suppkey"], "part": li["l_partkey"]}

    @cached_property
    def fixture_oracle(self) -> dict:
        d, s = self.li, inputs.FIXTURE
        X, y, g = d["X"], d["y"], d["supp"]
        b_pool = _ols(X, y)
        Xw = _demean(X, g, s["suppliers"])
        yw = y - _group_mean(y, g, s["suppliers"])[g]
        b_within = _ols(Xw, yw)
        Z = _demean_2fe(
            np.column_stack([X, y]), g, s["suppliers"], d["part"], s["parts"]
        )
        b_2fe = _ols(Z[:, :2], Z[:, 2])
        return {
            "b_pool": b_pool,
            "se_pool_cluster": _cluster_se(X, y - X @ b_pool, g, s["suppliers"]),
            "b_within": b_within,
            "resid_within": yw - Xw @ b_within,
            "fe_within": _group_mean(y - X @ b_within, g, s["suppliers"]),
            "b_2fe": b_2fe,
        }

    @cached_property
    def scale_oracle(self) -> dict:
        p, s = self.data["lineitem"], inputs.SCALE
        X = np.column_stack([p["x1"], p["x2"]])
        g = p["fe_a"]
        Xw = _demean(X, g, s["fe_a_levels"])
        yw = p["y"] - _group_mean(p["y"], g, s["fe_a_levels"])[g]
        b = _ols(Xw, yw)
        e = yw - Xw @ b
        return {"b_within": b, "resid_within": e, "se_cluster": _cluster_se(Xw, e, g, s["fe_a_levels"])}


# ------------------------------------------------------- sources.tables


def _scan(name: str) -> Step:
    def call(ctx):
        return Out(df=ctx.table(name))

    def check(ctx, out):
        return out.df.count() == len(next(iter(ctx.data[name].values())))

    return Step(f"scan_{name}", "sources.tables", call, check)


# ------------------------------------------------------- panel_fixture


def _grouped_agg(ctx):
    from hdfe_spark.operators.groupby import grouped_agg

    keys = ["l_returnflag", "l_linestatus"]
    values = {"l_quantity": ["mean", "count"], "l_discount": ["mean"]}
    return Out(df=grouped_agg(ctx.table("lineitem"), keys, values), collect="rows")


def _grouped_agg_check(ctx, out):
    import pandas as pd

    li = pd.DataFrame({k: ctx.data["lineitem"][k] for k in ("l_returnflag", "l_linestatus", "l_quantity", "l_discount")})
    want = li.groupby(["l_returnflag", "l_linestatus"]).agg(
        q=("l_quantity", "mean"), c=("l_quantity", "count"), d=("l_discount", "mean")
    )
    got = {(r["l_returnflag"], r["l_linestatus"]): r for r in out.rows}
    return len(got) == len(want) and all(
        _close(got[k]["mean_l_quantity"], w.q) and got[k]["count_l_quantity"] == w.c
        and _close(got[k]["mean_l_discount"], w.d)
        for k, w in want.iterrows()
    )


def _events_frame(ctx):
    import pandas as pd

    return pd.DataFrame(ctx.data["events"])


def _grouped_transform(ctx):
    from hdfe_spark.operators.groupby import grouped_transform

    return Out(df=grouped_transform(ctx.table("events"), "user_id", {"value": ["mean", "count"]}), collect="pandas")


def _grouped_transform_check(ctx, out):
    return _transform_matches(out.rows, _events_frame(ctx), "user_id", "value")


def _span(pdf):
    import pandas as pd

    return pd.DataFrame(
        {
            "l_suppkey": [pdf["l_suppkey"].iloc[0]],
            "span_qty": [pdf["l_quantity"].max() - pdf["l_quantity"].min()],
            "n_rows": [len(pdf)],
        }
    )


def _groupby_apply(ctx):
    from hdfe_spark.operators.groupby import Groupby

    li = ctx.table("lineitem").select("l_suppkey", "l_quantity")
    schema = "l_suppkey long, span_qty double, n_rows long"
    return Out(df=Groupby(li, "l_suppkey").apply(_span, schema=schema), collect="rows")


def _groupby_apply_check(ctx, out):
    s = inputs.FIXTURE["suppliers"]
    li = ctx.data["lineitem"]
    g, q = li["l_suppkey"], li["l_quantity"]
    hi = np.full(s, -np.inf)
    lo = np.full(s, np.inf)
    np.maximum.at(hi, g, q)
    np.minimum.at(lo, g, q)
    n = np.bincount(g, minlength=s)
    got = out.rows
    return len(got) == int((n > 0).sum()) and all(
        r["span_qty"] == hi[r["l_suppkey"]] - lo[r["l_suppkey"]] and r["n_rows"] == n[r["l_suppkey"]]
        for r in got
    )


def _demean_step(ctx):
    from hdfe_spark.operators.groupby import demean

    return Out(df=demean(ctx.table("events"), "user_id", "value"), collect="pandas")


def _demean_check(ctx, out):
    ev = _events_frame(ctx).set_index("event_id")
    want = ev["value"] - ev.groupby("user_id")["value"].transform("mean")
    got = out.rows.set_index("event_id")["value_dm"]
    return _same_ids(got.index, want.index) and _close(got.reindex(want.index), want)


def _make_lags_events(ctx):
    from hdfe_spark.operators.lags import make_lags

    out, _ = make_lags(
        ctx.table("events"), n_lags_back=2, n_lags_forward=1,
        outcomes="value", groupby="user_id", order_by="ts",
    )
    return Out(df=out, collect="pandas")


def _make_lags_events_check(ctx, out):
    return _lags_match(out.rows, _events_frame(ctx), "user_id", "ts", "value", (-1, 1, 2), "event_id")


def _factorize(ctx):
    from hdfe_spark.operators.encoding import factorize

    return Out(df=factorize(ctx.table("part"), "p_brand"), collect="pandas")


def _factorize_check(ctx, out):
    p = ctx.data["part"]
    _, codes = np.unique(p["p_brand"], return_inverse=True)
    got = out.rows.sort_values("p_partkey")
    return _same(got["p_partkey"], p["p_partkey"]) and _same(got["p_brand_code"], codes)


def _dummy_sums_match(frame, names, want) -> bool:
    return sorted(int(frame[c].astype("int64").sum()) for c in names) == sorted(want)


def _make_dummies(ctx):
    from hdfe_spark.operators.encoding import make_dummies

    df, names = make_dummies(ctx.table("orders"), "o_orderstatus", drop_col=False)
    return Out(df=df, value=names, collect="pandas")


def _make_dummies_check(ctx, out):
    _, counts = np.unique(ctx.data["orders"]["o_orderstatus"], return_counts=True)
    return len(out.value) == len(counts) and _dummy_sums_match(out.rows, out.value, counts)


def _get_all_dummies(ctx):
    from hdfe_spark.operators.encoding import get_all_dummies

    df, names = get_all_dummies(ctx.table("orders"), ["o_orderstatus", "o_orderpriority"])
    return Out(df=df, value=names, collect="pandas")


def _get_all_dummies_check(ctx, out):
    o = ctx.data["orders"]
    _, c1 = np.unique(o["o_orderstatus"], return_counts=True)
    _, c2 = np.unique(o["o_orderpriority"], return_counts=True)
    want = list(c1) + list(c2[:-1])  # first column all levels, later drop-last
    return len(out.value) == len(want) and _dummy_sums_match(out.rows, out.value, want)


def _gram(ctx):
    from hdfe_spark.operators.collinearity import gram_matrix

    return Out(value=gram_matrix(ctx.table("lineitem"), ["l_quantity", "l_discount"], ["l_extendedprice"]))


def _gram_check(ctx, out):
    G, Xty, n = out.value
    X, y = ctx.li["X"], ctx.li["y"]
    return n == len(y) and _close(G, X.T @ X, rtol=1e-9) and _close(Xty[:, 0], X.T @ y, rtol=1e-9)


_LI_Y, _LI_X = "l_extendedprice", ["l_quantity", "l_discount"]


def _est_pooled_cluster(ctx):
    from hdfe_spark.operators.estimate import estimate

    res = estimate(ctx.table("lineitem"), _LI_Y, _LI_X, estimate_variance=True, cluster="l_suppkey")
    return Out(value=(res.slopes, _se(res)))


def _est_pooled_cluster_check(ctx, out):
    b, se = out.value
    o = ctx.fixture_oracle
    return _close(b[:, 0], o["b_pool"]) and _close(se, o["se_pool_cluster"], rtol=1e-2)


def _est_within(ctx):
    """Within-FE slopes, per-row residuals and recovered FE levels from
    one call; both tables are sinks."""
    from hdfe_spark.operators.estimate import estimate

    res = estimate(ctx.table("lineitem"), _LI_Y, _LI_X, categorical_controls=["l_suppkey"], get_residual=True)
    return Out(df=[res.residuals, res.fixed_effects["l_suppkey"]], value=res.slopes, collect="pandas")


def _line_key(t) -> np.ndarray:
    """(l_orderkey, l_linenumber), the unique row key, as one integer."""
    return np.asarray(t["l_orderkey"]) * 8 + np.asarray(t["l_linenumber"])


def _est_within_check(ctx, out):
    o = ctx.fixture_oracle
    resid, fe = out.rows
    li = ctx.data["lineitem"]
    want = dict(zip(_line_key(li), o["resid_within"]))
    got = dict(zip(_line_key(resid), resid["resid_l_extendedprice"]))
    fe = fe.sort_values("l_suppkey")
    return (
        _close(out.value[:, 0], o["b_within"])
        and len(resid) == len(want)
        and got.keys() == want.keys()
        and _close([got[k] for k in want], list(want.values()), atol=1e-6)
        and _same(fe["l_suppkey"], np.unique(ctx.li["supp"]))
        and _close(fe["fe_l_extendedprice"], o["fe_within"][fe["l_suppkey"]], atol=1e-6)
    )


def _est_2fe(ctx):
    from hdfe_spark.operators.estimate import estimate

    res = estimate(
        ctx.table("lineitem"), _LI_Y, _LI_X,
        categorical_controls=["l_suppkey", "l_partkey"], within_if_fe=False,
    )
    return Out(value=res.slopes)


def _est_2fe_check(ctx, out):
    return _close(out.value[:, 0], ctx.fixture_oracle["b_2fe"], rtol=1e-5)


PANEL_FIXTURE = [
    _scan("lineitem"),
    Step("grouped_agg", "groupby", _grouped_agg, _grouped_agg_check),
    Step("grouped_transform", "groupby", _grouped_transform, _grouped_transform_check),
    Step("groupby_apply", "groupby", _groupby_apply, _groupby_apply_check),
    Step("demean", "groupby", _demean_step, _demean_check),
    Step("make_lags", "lags", _make_lags_events, _make_lags_events_check),
    Step("factorize", "encoding", _factorize, _factorize_check),
    Step("make_dummies", "encoding", _make_dummies, _make_dummies_check),
    Step("get_all_dummies", "encoding", _get_all_dummies, _get_all_dummies_check),
    Step("gram_matrix", "collinearity", _gram, _gram_check),
    Step("estimate_pooled_cluster_se", "estimate", _est_pooled_cluster, _est_pooled_cluster_check),
    Step("estimate_within_resid_fe", "estimate", _est_within, _est_within_check),
    Step("estimate_2fe", "estimate", _est_2fe, _est_2fe_check),
]


# --------------------------------------------------------- panel_scale


def _planted(b, tol=0.02) -> bool:
    return bool(np.all(np.abs(np.asarray(b, float).ravel() - inputs.BETA_SCALE) < tol))


def _sc_2fe(ctx):
    from hdfe_spark.operators.estimate import estimate

    res = estimate(ctx.table("lineitem"), "y", ["x1", "x2"], categorical_controls=["fe_a", "fe_b"], within_if_fe=False)
    return Out(value=res.slopes)


def _sc_cluster(ctx):
    from hdfe_spark.operators.estimate import estimate

    res = estimate(
        ctx.table("lineitem"), "y", ["x1", "x2"], categorical_controls=["fe_a"],
        estimate_variance=True, cluster="fe_a",
    )
    return Out(value=(res.slopes, _se(res)))


def _sc_cluster_check(ctx, out):
    b, se = out.value
    o = ctx.scale_oracle
    return _planted(b) and _close(b[:, 0], o["b_within"]) and _close(se, o["se_cluster"], rtol=1e-2)


def _sc_residuals(ctx):
    from hdfe_spark.operators.estimate import estimate

    res = estimate(ctx.table("lineitem"), "y", ["x1", "x2"], categorical_controls=["fe_a"], get_residual=True)
    return Out(df=res.residuals, value=res.slopes)


def _sc_residuals_check(ctx, out):
    o = ctx.scale_oracle
    got = _sampled(out.df, "id", ctx.sample(ctx.data["lineitem"]["id"], k=32))
    return (
        _planted(out.value)
        and len(got) == 32
        and _close(got["resid_y"], o["resid_within"][got["id"]], rtol=1e-6, atol=1e-6)
    )


def _sc_lags(ctx):
    from hdfe_spark.operators.lags import make_lags

    out, _ = make_lags(ctx.table("lineitem"), n_lags_back=1, n_lags_forward=1, outcomes="y", groupby="fe_b", order_by="t")
    return Out(df=out)


def _sc_lags_check(ctx, out):
    import pandas as pd

    p = pd.DataFrame(ctx.data["lineitem"])
    keys = ctx.sample(p["fe_b"].to_numpy())
    return _lags_match(_sampled(out.df, "fe_b", keys), p[p["fe_b"].isin(keys)], "fe_b", "t", "y", (-1, 1), "id")


def _sc_transform(ctx):
    from hdfe_spark.operators.groupby import grouped_transform

    return Out(df=grouped_transform(ctx.table("lineitem"), "fe_a", {"y": ["mean", "count"]}))


def _sc_transform_check(ctx, out):
    import pandas as pd

    p = pd.DataFrame(ctx.data["lineitem"])
    keys = ctx.sample(p["fe_a"].to_numpy())
    return _transform_matches(_sampled(out.df, "fe_a", keys), p[p["fe_a"].isin(keys)], "fe_a", "y")


PANEL_SCALE = [
    _scan("lineitem"),
    Step("estimate_2fe", "estimate", _sc_2fe, lambda ctx, out: _planted(out.value)),
    Step("estimate_cluster_se", "estimate", _sc_cluster, _sc_cluster_check),
    Step("estimate_residuals", "estimate", _sc_residuals, _sc_residuals_check),
    Step("make_lags", "lags", _sc_lags, _sc_lags_check),
    Step("grouped_transform", "groupby", _sc_transform, _sc_transform_check),
]


# --------------------------------------------------------- curate_docs


def _docs(ctx):
    return ctx.data["documents"]


def _planted_pairs(ctx) -> set:
    return {(int(a), int(b)) for c in ctx.data["clusters"] for i, a in enumerate(c) for b in c[i + 1:]}


def _all_ids(ctx) -> set:
    return set(_docs(ctx)["doc_id"].tolist())


def _exact_survivors(ctx) -> set:
    first: dict = {}
    for i, t in zip(_docs(ctx)["doc_id"].tolist(), _docs(ctx)["text"]):
        first.setdefault(t, i)
    return set(first.values())


def _near_survivors(ctx) -> set:
    """min id of each planted cluster survives, its other members go"""
    return _all_ids(ctx) - {int(m) for c in ctx.data["clusters"] for m in c[1:]}


def _doc_step(fn):
    """Call a documents → documents layer function; the sink collects
    every output column but the passed-through text."""

    def call(ctx):
        return Out(df=fn(ctx.table("documents")).drop("text"), collect="rows")

    return call


def _ids_are(want_fn):
    def check(ctx, out):
        ids = [r["doc_id"] for r in out.rows]
        return len(ids) == len(set(ids)) and set(ids) == want_fn(ctx)

    return check


def _exact_dedup(docs):
    from hdfe_spark.operators.dedup import exact_dedup_by_hash

    return exact_dedup_by_hash(docs, "text", "doc_id")


def _token_stats(docs):
    from hdfe_spark.operators.text import token_stats

    return token_stats(docs)


def _token_stats_check(ctx, out):
    text = _docs(ctx)["text"]
    return len(out.rows) == len(text) and all(r["n_tokens_ws"] == len(text[r["doc_id"]].split()) for r in out.rows)


def _quality(docs):
    from hdfe_spark.operators.text import quality_score

    return quality_score(docs)


def _quality_check(ctx, out):
    text = _docs(ctx)["text"]
    return len(out.rows) == len(text) and all(r["q_n_chars"] == len(text[r["doc_id"]]) for r in out.rows)


def _lang_id(docs):
    from hdfe_spark.operators.text import lang_id

    return lang_id(docs)


def _lang_id_check(ctx, out):
    return {r["doc_id"] for r in out.rows if r["lang_pred"] is not None} == _all_ids(ctx)


def _tf_idf(docs):
    from hdfe_spark.operators.text import tf_idf

    return tf_idf(docs, top_k=3)


def _tf_idf_check(ctx, out):
    text = _docs(ctx)["text"]
    per_doc: dict = {}
    for r in out.rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    return set(per_doc) == _all_ids(ctx) and all(
        len(rs) == 3 and all(r["term"] in text[k].split() and r["tfidf"] > 0 for r in rs)
        for k, rs in per_doc.items()
    )


def _minhash_verify(ctx):
    from pyspark.sql import functions as F

    from hdfe_spark.operators.dedup import minhash_candidate_pairs, ngram_jaccard_pairs

    docs = ctx.table("documents")
    cand = minhash_candidate_pairs(docs, num_hashes=128, bands=16, shingle_k=5)
    ver = ngram_jaccard_pairs(docs, cand, "text", "doc_id", shingle_k=5).filter(F.col("jaccard") >= 0.8)
    return Out(df=ver.select("id_a", "id_b"), collect="rows", value=cand)


def _minhash_verify_check(ctx, out):
    pairs = {(r["id_a"], r["id_b"]) for r in out.rows}
    # the candidate count costs a re-run of the LSH join, and it is the
    # same in every pass: count once
    if ctx.trace and "verify_yield" not in ctx.scratch:
        n_cand = out.value.count()
        ctx.scratch["verify_yield"] = len(pairs) / n_cand if n_cand else 0.0
    return pairs == _planted_pairs(ctx)


def _minhash_dedup(docs):
    from hdfe_spark.operators.dedup import minhash_dedup

    return minhash_dedup(docs, num_hashes=128, bands=16, jaccard_threshold=0.8)


def _simhash_dedup(docs):
    from hdfe_spark.operators.dedup import simhash_dedup

    return simhash_dedup(docs)


def _simhash_check(ctx, out):
    """Exact SimHash collapses every exact copy and may collapse a
    near-copy: survivors lie between the two planted sets."""
    ids = {r["doc_id"] for r in out.rows}
    return len(ids) == len(out.rows) and _near_survivors(ctx) <= ids <= _exact_survivors(ctx)


def _emb_unit(ctx) -> np.ndarray:
    e = ctx.data["embeddings"]["embedding"].astype(np.float64)
    return e / np.linalg.norm(e, axis=1, keepdims=True)


# the headline query's threshold: on 64-d gaussians a few hundred random
# pairs clear it, next to the planted near-copies
_EMB_THRESHOLD = 0.4


def _emb_neardup(ctx):
    from hdfe_spark.operators.dedup import embedding_neardup_pairs

    out = embedding_neardup_pairs(ctx.table("embeddings"), threshold=_EMB_THRESHOLD, n_tables=16)
    return Out(value={(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()})


def _emb_neardup_check(ctx, out):
    """LSH is approximate: every returned pair must be exact, every
    planted near-copy found, and recall over all pairs at the threshold
    at least 0.9 (the call is tuned for 0.95)."""
    u = _emb_unit(ctx)
    cos = u @ u.T
    a, b = np.nonzero(np.triu(cos >= _EMB_THRESHOLD, 1))
    exact = set(zip(a.tolist(), b.tolist()))
    planted = {tuple(sorted(p)) for p in ctx.data["emb_pairs"].tolist()}
    return (
        set(out.value) <= exact
        and planted <= set(out.value)
        and len(out.value) >= 0.9 * len(exact)
        and all(abs(c - cos[p]) < 1e-6 for p, c in out.value.items())
    )


_KNN_Q, _KNN_K = inputs.DOCS["knn_queries"], 5


def _knn(ctx):
    from pyspark.sql import functions as F

    from hdfe_spark.operators.similarity import knn_join

    emb = ctx.table("embeddings")
    q = emb.filter(F.col("vec_id") < _KNN_Q).select(F.col("vec_id").alias("query_id"), "embedding")
    out = knn_join(emb.filter(F.col("vec_id") >= _KNN_Q), q, k=_KNN_K)
    return Out(value=out.collect())


def _knn_check(ctx, out):
    u = _emb_unit(ctx)
    cos = u[:_KNN_Q] @ u[_KNN_Q:].T
    got: dict = {}
    for r in out.value:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    if sorted(got) != list(range(_KNN_Q)):
        return False
    for q, hits in got.items():
        want = np.sort(cos[q])[::-1][:_KNN_K]
        ids = {v for v, _ in hits}
        top = set((np.argsort(-cos[q])[:_KNN_K] + _KNN_Q).tolist())
        # ids must match unless the k-th place is a near tie
        tie = want[-1] - np.sort(cos[q])[::-1][_KNN_K] < 1e-6
        if len(hits) != _KNN_K or not _close(sorted((c for _, c in hits), reverse=True), want, rtol=1e-5, atol=1e-6):
            return False
        if ids != top and not tie:
            return False
    return True


CURATE_DOCS = [
    _scan("documents"),
    _scan("embeddings"),
    Step("exact_dedup_by_hash", "dedup", _doc_step(_exact_dedup), _ids_are(_exact_survivors)),
    Step("token_stats", "text", _doc_step(_token_stats), _token_stats_check),
    Step("quality_score", "text", _doc_step(_quality), _quality_check),
    Step("lang_id", "text", _doc_step(_lang_id), _lang_id_check),
    Step("tf_idf", "text", _doc_step(_tf_idf), _tf_idf_check),
    Step("minhash_verify", "dedup", _minhash_verify, _minhash_verify_check),
    Step("minhash_dedup", "dedup", _doc_step(_minhash_dedup), _ids_are(_near_survivors)),
    Step("simhash_dedup", "dedup", _doc_step(_simhash_dedup), _simhash_check),
    Step("embedding_neardup_pairs", "dedup", _emb_neardup, _emb_neardup_check),
    Step("knn_join", "similarity", _knn, _knn_check),
]

WORKLOADS = {
    "panel_fixture": PANEL_FIXTURE,
    "panel_scale": PANEL_SCALE,
    "curate_docs": CURATE_DOCS,
}
