"""Guards for the round-15b optimization changes (second session of
the round): grouped_transform/demean via agg + null-safe join-back,
and the fused one-pass minhash_dedup signature table.

Contract under test: every plan computes EXACTLY what an independent
reference computes on the same data (the declared-query surface must
not drift), including NULL keys, NaN values, and empty/None documents:
pandas ``groupby().transform`` with Spark's aggregate semantics for
grouped_transform/demean, and the public
``minhash_candidate_pairs`` + ``ngram_jaccard_pairs`` composition for
minhash_dedup.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


_KEYED_ROWS = [
    # (key, value) with a NULL key group and NaN values mixed in
    ("a", 1.0), ("a", 2.0), ("a", None), ("b", 5.0),
    (None, 7.0), (None, 9.0), ("c", float("nan")), ("c", 3.0),
]


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.createDataFrame(_KEYED_ROWS, "k string, v double")


def _pandas(rows, cols):
    # object dtype keeps NULL (None) apart from NaN, as Spark does
    return pd.DataFrame({c: pd.Series(v, dtype=object) for c, v in zip(cols, zip(*rows))})


# Spark's aggregate semantics over one group's values: NULLs are
# skipped, NaN propagates, an all-NULL group sums to NULL.
def _sql_count(s):
    return sum(v is not None for v in s)


def _sql_sum(s):
    vals = [v for v in s if v is not None]
    return sum(vals) if vals else None


def _sql_mean(s):
    vals = [v for v in s if v is not None]
    return sum(vals) / len(vals) if vals else None


def _transform(pdf, keys, col, fn):
    """pandas ``groupby(keys).transform`` with NULL keys as a group."""
    return pdf.groupby(keys, dropna=False)[col].transform(fn).astype(object)


def _sorted(rows):
    return sorted(
        [tuple(r) for r in rows],
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _sorted_rows(df):
    return _sorted(df.collect())


def _same_rows(a, b):
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb)
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert (math.isnan(va) and math.isnan(vb)) or va == vb
            else:
                assert va == vb


def test_transform_join_parity_null_keys_and_nans(keyed):
    """Join plan == pandas groupby().transform bit-for-bit, including
    the NULL-key group (null-safe equality) and NaN propagation into
    the mean."""
    from hdfe_spark.operators.groupby import grouped_transform

    new_df = grouped_transform(keyed, "k", {"v": ["mean", "count", "sum"]})
    pdf = _pandas(_KEYED_ROWS, ["k", "v"])
    for name, fn in (("mean", _sql_mean), ("count", _sql_count), ("sum", _sql_sum)):
        pdf[f"{name}_v"] = _transform(pdf, "k", "v", fn)
    _same_rows(_sorted(pdf.itertuples(index=False, name=None)), _sorted_rows(new_df))
    # schema (names and order): input columns, then {fn}_{col}
    assert new_df.columns == ["k", "v", "mean_v", "count_v", "sum_v"]


def test_transform_order_dependent_fns_keep_window_path(keyed):
    """first/last depend on physical row order — they must stay on the
    window plan (the join path would disagree)."""
    from hdfe_spark.operators.groupby import grouped_transform
    from hdfe_spark.plans.audit import explain_string

    out = grouped_transform(keyed, "k", {"v": ["first"]})
    assert "Window" in explain_string(out, "simple")


def _demean_reference(rows, cols, keys):
    pdf = _pandas(rows, cols)
    mean = _transform(pdf, keys, "v", _sql_mean)
    pdf["v_dm"] = pd.Series(
        [None if v is None or m is None else v - m for v, m in zip(pdf["v"], mean)],
        dtype=object,
    )
    return _sorted(pdf.itertuples(index=False, name=None))


def test_demean_join_parity(keyed):
    from hdfe_spark.operators.groupby import demean

    new_df = demean(keyed, "k", "v")
    _same_rows(_demean_reference(_KEYED_ROWS, ["k", "v"], "k"), _sorted_rows(new_df))
    assert new_df.columns == ["k", "v", "v_dm"]


def test_demean_multikey_parity(spark):
    from hdfe_spark.operators.groupby import demean

    rows = [("a", 1, 2.0), ("a", 1, 4.0), ("a", 2, 6.0), (None, 1, 8.0),
            (None, 1, 10.0), ("b", None, 12.0)]
    df = spark.createDataFrame(rows, "k1 string, k2 int, v double")
    new = _sorted_rows(demean(df, ["k1", "k2"], "v"))
    _same_rows(_demean_reference(rows, ["k1", "k2", "v"], ["k1", "k2"]), new)


def test_fused_bands_and_set_kernel_bit_identical():
    """The fused kernel's bands == make_minhash_bands_udf's output and
    its shingles == make_kgram_set_udf's output, on the edge cases the
    unfused kernels pin (None, empty, short, unicode)."""
    from hdfe_spark.functions.hashing import (
        _affine_params,
        kgram_hashes_np,
    )

    # Re-derive both unfused outputs in numpy (the UDF bodies) and
    # compare against the fused body's logic on the same inputs.
    texts = [None, "", "abc", "hello world, hello world",
             "ünïcødé ünïcødé ünïcødé", "x" * 500, "aaaaa"]
    num_hashes, bands, k, seed = 128, 16, 5, 42
    a, c = _affine_params(num_hashes, seed)
    rows_per_band = num_hashes // bands
    _BASE = np.uint64(1099511628211)
    band_pows = np.empty(rows_per_band, dtype=np.uint64)
    band_pows[-1] = np.uint64(1)
    with np.errstate(over="ignore"):
        for j in range(rows_per_band - 2, -1, -1):
            band_pows[j] = band_pows[j + 1] * _BASE

    def bands_of(t):
        if t is None:
            h = np.empty(0, dtype=np.uint64)
        else:
            h = np.unique(kgram_hashes_np(t.lower(), k))
        if h.size == 0:
            m = np.zeros(num_hashes, dtype=np.uint64)
        else:
            with np.errstate(over="ignore"):
                m = (a[:, None] * h[None, :] + c[:, None]).min(axis=1)
        with np.errstate(over="ignore"):
            sl = m.reshape(bands, rows_per_band)
            digs = (sl * band_pows[None, :]).sum(axis=1, dtype=np.uint64)
            digs = digs ^ (digs >> np.uint64(33))
            digs = digs * np.uint64(0xC4CEB9FE1A85EC53)
            digs = digs + np.arange(bands, dtype=np.uint64)
        return digs.astype(np.int64).tolist()

    def set_of(t):
        return (
            np.unique(kgram_hashes_np((t or "").lower(), k))
            .astype(np.int64)
            .tolist()
        )

    from hdfe_spark.functions.hashing import make_minhash_bands_and_set_udf

    fused = make_minhash_bands_and_set_udf(num_hashes, bands, k, seed)
    # call the underlying pandas function directly
    fn = fused.func
    out = fn(pd.Series(texts))
    for i, t in enumerate(texts):
        assert out["bands"].iloc[i] == bands_of(t), f"bands differ for {t!r}"
        assert out["shingles"].iloc[i] == set_of(t), f"shingles differ for {t!r}"


def test_minhash_dedup_fused_parity(spark, sf_dir):
    """Fused one-pass minhash_dedup == the public composition
    minhash_candidate_pairs + ngram_jaccard_pairs (drop every verified
    pair's larger id), bit-for-bit, on the sf fixture corpus."""
    from hdfe_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_dedup,
        ngram_jaccard_pairs,
    )
    from hdfe_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    try:
        cand = minhash_candidate_pairs(docs, num_hashes=128, bands=16)
        losers = (
            ngram_jaccard_pairs(docs, cand)
            .filter(F.col("jaccard") >= 0.8)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        old = _sorted_rows(
            docs.join(losers, on="doc_id", how="left_anti")
            .select("doc_id", "lang", "source")
        )
        new = _sorted_rows(
            minhash_dedup(docs, num_hashes=128, bands=16, jaccard_threshold=0.8)
            .select("doc_id", "lang", "source")
        )
    finally:
        spark.catalog.clearCache()
    assert old == new
    assert len(old) < docs.count()  # the corpus has near-dups to drop


def test_minhash_dedup_fused_single_arrow_hash_pass(spark, sf_dir):
    """The fused plan hashes the corpus ONCE: exactly one
    ArrowEvalPython node id inside the cached signature relation (the
    unfused chain had four), plus the pair-verify stage."""
    from hdfe_spark.operators.dedup import minhash_dedup
    from hdfe_spark.plans.audit import explain_string
    from hdfe_spark.sources.tables import load_table
    import re

    docs = load_table(spark, "documents", sf_dir)
    out = minhash_dedup(docs, num_hashes=128, bands=16, jaccard_threshold=0.8)
    try:
        s = explain_string(out, "formatted")
        tree = s.split("\n\n")[0]
        # node ids of ArrowEvalPython occurrences in the tree
        ids = set(re.findall(r"ArrowEvalPython \((\d+)\)", tree))
        assert len(ids) == 2, f"expected sig-pass + verify, got ids {ids}"
        assert "InMemoryRelation" in tree  # the persisted signature table
    finally:
        spark.catalog.clearCache()
