"""Dedup operator tests: planted exact and near duplicates."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hdfe_spark.operators.dedup import (
    exact_dedup,
    exact_dedup_by_hash,
    minhash_candidate_pairs,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash,
    simhash_dedup,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun light of september"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("september", "october")),  # near dup of 0
        (3, "completely unrelated text about database query optimization and join ordering strategies in distributed systems"),
        (4, "another unrelated document mentioning streaming watermarks state stores and checkpoint recovery semantics"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


_BAD_PAIR_ARGS = [
    ("setsim_join", {"tau": 0.0}, "tau"),
    ("setsim_join", {"tau": 1.5}, "tau"),
    ("containment_pairs", {"threshold": 0}, "threshold"),
    ("containment_pairs", {"threshold": 1.2}, "threshold"),
    ("fingerprint_neardup_pairs", {"min_shared": 0}, "min_shared"),
    ("minhash_candidate_pairs", {"num_hashes": 100, "bands": 16}, "num_hashes"),
    ("minhash_candidate_pairs", {"bands": 0}, "bands"),
    ("minhash_dedup", {"num_hashes": 100, "bands": 16}, "num_hashes"),
    ("minhash_dedup", {"bands": 0}, "bands"),
]


@pytest.mark.parametrize(
    "op, kwargs, arg",
    _BAD_PAIR_ARGS,
    ids=[f"{op}-{arg}={kw[arg]}" for op, kw, arg in _BAD_PAIR_ARGS],
)
def test_pair_operator_arguments_validated_on_driver(planted_docs, op, kwargs, arg):
    """Out-of-contract arguments raise at call time, naming the
    operator and the argument, instead of returning a partial pair set
    or failing later inside a Spark task."""
    from hdfe_spark.operators import dedup, setjoin, text

    fn = next(getattr(m, op) for m in (dedup, setjoin, text) if hasattr(m, op))
    with pytest.raises(ValueError, match=rf"^{op}: {arg} must"):
        fn(planted_docs, **kwargs)


def test_exact_dedup(planted_docs):
    out = exact_dedup(planted_docs, "text", id_col="doc_id").toPandas()
    assert sorted(out["doc_id"]) == [0, 2, 3, 4]  # min-id survivor


def test_exact_dedup_by_hash(planted_docs):
    out = exact_dedup_by_hash(planted_docs).toPandas()
    assert sorted(out["doc_id"]) == [0, 2, 3, 4]


def test_minhash_candidates_find_near_dup(planted_docs):
    pairs = minhash_candidate_pairs(
        planted_docs, num_hashes=64, bands=32, shingle_k=5
    ).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert (0, 1) in got  # exact dup always collides
    assert (0, 2) in got or (1, 2) in got  # near dup collides in some band


def test_minhash_candidate_pairs_evaluates_band_udf_once(planted_docs, spark, monkeypatch):
    """Both sides of the band self-join read one Arrow pass: the band
    UDF sees each document once per query, not once per join side."""
    from pyspark.sql import types as T

    from hdfe_spark.functions import hashing
    from hdfe_spark.operators.dedup import release_query_caches

    seen = spark.sparkContext.accumulator(0)
    make = hashing.make_minhash_bands_udf

    def counted(*args, **kwargs):
        band_sig = make(*args, **kwargs).func

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def counted_band_sig(texts: pd.Series) -> pd.Series:
            seen.add(len(texts))
            return band_sig(texts)

        return counted_band_sig

    monkeypatch.setattr(hashing, "make_minhash_bands_udf", counted)
    try:
        pairs = minhash_candidate_pairs(planted_docs, num_hashes=64, bands=32).collect()
    finally:
        release_query_caches()
    assert (0, 1) in {(r["id_a"], r["id_b"]) for r in pairs}
    assert seen.value == planted_docs.count()


def test_ngram_jaccard(planted_docs, spark):
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "id_a long, id_b long"
    )
    got = (
        ngram_jaccard_pairs(planted_docs, pairs)
        .toPandas()
        .set_index(["id_a", "id_b"])["jaccard"]
    )
    assert got[(0, 1)] == 1.0
    assert 0.7 < got[(0, 2)] < 1.0
    assert got[(0, 3)] < 0.2


def test_minhash_dedup(planted_docs):
    out = minhash_dedup(
        planted_docs, num_hashes=64, bands=32, jaccard_threshold=0.7
    ).toPandas()
    ids = sorted(out["doc_id"])
    assert 0 in ids and 3 in ids and 4 in ids
    assert 1 not in ids  # exact dup dropped
    assert 2 not in ids  # near dup dropped at 0.7


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, "totally different words entirely")],
        "doc_id long, text string",
    )
    got = df.select("doc_id", simhash(F.col("text")).alias("s")).toPandas()
    s = got.set_index("doc_id")["s"]
    assert s[0] == s[1]
    assert s[0] != s[2]


def test_simhash_dedup(spark):
    df = spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, "totally different words entirely")],
        "doc_id long, text string",
    )
    out = simhash_dedup(df).toPandas()
    assert sorted(out["doc_id"]) == [0, 2]


def test_simhash_neardup_pairs_matches_bruteforce(spark, sf_dir):
    """Pigeonhole banding is EXACT for Hamming ≤ max_hamming: the
    candidate-bucket join + popcount verify must return precisely the
    brute-force all-pairs ground truth over the fixture signatures."""
    import numpy as np

    from hdfe_spark.operators.dedup import simhash, simhash_neardup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = (
        simhash_neardup_pairs(docs, max_hamming=3)
        .select("id_a", "id_b", "hamming")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )

    sig = docs.select(
        "doc_id", simhash(F.col("text")).alias("s")
    ).toPandas()
    ids = sig["doc_id"].to_numpy()
    s = sig["s"].to_numpy(np.uint64)
    x = s[:, None] ^ s[None, :]
    ham = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        ham += (x & np.uint64(1)).astype(np.int64)
        x >>= np.uint64(1)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = ham[iu, ju] <= 3
    want = sorted(
        (min(a, b), max(a, b), int(h))
        for a, b, h in zip(ids[iu[keep]], ids[ju[keep]], ham[iu, ju][keep])
    )
    assert [tuple(r) for r in got.to_numpy()] == want
    assert len(want) > 0  # fixture near-dups make the check non-vacuous


def test_real_documents_no_exact_dups(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    assert exact_dedup_by_hash(docs).count() == n  # fixture has no dups


def test_embedding_neardup_lsh_recall(spark, sf_dir):
    """Multi-table LSH recall vs the exact baseline at threshold 0.4
    must meet the auto-parameterization's target (95%)."""
    from hdfe_spark.operators.dedup import (
        embedding_neardup_exact,
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_exact(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.4, n_tables=16).collect()
    }
    assert exact, "fixture must produce a nonzero exact pair set"
    assert lsh <= exact  # cosine-verified: no false positives
    assert len(lsh & exact) / len(exact) >= 0.95


def test_remove_boilerplate_lines(spark):
    """Shared lines above the doc-frequency cap are removed; unique
    lines survive in order; fully-boilerplate docs come back empty,
    never dropped."""
    from hdfe_spark.operators.dedup import remove_boilerplate_lines

    footer = "(c) corp"
    rows = [
        (0, f"alpha\n{footer}\nbeta"),
        (1, f"{footer}\ngamma"),
        (2, f"delta\n{footer}"),
        (3, footer),  # nothing but boilerplate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate_lines(df, max_docs=2).collect()
    }
    assert out[0] == "alpha\nbeta"  # order preserved across the gap
    assert out[1] == "gamma"
    assert out[2] == "delta"
    assert out[3] == ""  # kept, emptied


def test_containment_pairs_matches_brute_force(spark):
    from hdfe_spark.operators.dedup import containment_pairs

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox"),                      # contained in 1
        (3, "the quick brown fox jumps over the lazy dog again"),
        (4, "zzzzz completely different content"),
        (5, "xy"),                                   # shorter than k
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(df, threshold=0.3).collect()
    }

    def sh(t):
        t = t.lower()
        return {t[i:i + 5] for i in range(len(t) - 4)} if len(t) >= 5 else set()

    want = {}
    for ia, ta in docs:
        for ib, tb in docs:
            if ia == ib or not sh(ta):
                continue
            c = len(sh(ta) & sh(tb)) / len(sh(ta))
            if c >= 0.3:
                want[(ia, ib)] = c
    assert set(got) == set(want)
    for k, c in want.items():
        assert got[k]["containment"] == pytest.approx(c)
    # the asymmetry that motivates the operator: short-in-long
    assert (2, 1) in want and want[(2, 1)] == 1.0
    assert (1, 2) not in want or want.get((1, 2), 0) < 0.5
