"""Exactness tests for the prefix-filter set-similarity join
(`operators/setjoin.py`) and the ExactSubstr-style duplicated-span
stats (`text.py::dup_ngram_spans`)."""

import itertools

from pyspark.sql import functions as F

from hdfe_spark.operators.setjoin import _posting_pairs, setsim_join, shingle_array
from hdfe_spark.operators.text import dup_ngram_spans
from set_reference import posting_pairs


def _brute_pairs(rows, tau, k):
    """Brute-force all-pairs shingle Jaccard on the driver."""
    sets = {}
    for i, text in rows:
        toks = [t for t in text.lower().split() if t]
        sets[i] = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= tau:
            out.add((a, b))
    return out


def test_setsim_join_matches_bruteforce(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different sentence with other words entirely here now"),
        (4, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (5, "short doc"),  # fewer than k tokens -> empty set, excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for tau in (0.5, 0.8):
        got = {
            (r.id_a, r.id_b)
            for r in setsim_join(df, "doc_id", "text", tau=tau, shingle_k=5).collect()
        }
        assert got == _brute_pairs(rows, tau, 5), tau


def test_setsim_join_prefix_never_misses_boundary(spark):
    # 10 shingles vs 10 shingles sharing exactly 9: J = 9/11 = 0.8181..
    # sits just above tau=0.8; a too-short prefix would drop it.
    a = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"
    b = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 zz"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    rows = setsim_join(df, "doc_id", "text", tau=0.8, shingle_k=5).collect()
    brute = _brute_pairs([(1, a), (2, b)], 0.8, 5)
    assert {(r.id_a, r.id_b) for r in rows} == brute


def test_shingle_array_short_doc_empty(spark):
    df = spark.createDataFrame([("a b c",)], ["text"])
    out = df.select(shingle_array(F.col("text"), 5).alias("s")).collect()
    assert out[0].s == []


def test_dup_ngram_spans_marks_shared_spans_only(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly one 8-gram
    rows = [
        (1, shared + " unique1 tail1"),
        (2, shared + " unique2 tail2"),
        (3, "nothing in common with the others at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dup_ngram_spans(df, k=8).collect()}
    # docs 1/2: 10 tokens -> 3 8-grams; only the leading shared one dups
    assert out[1].n_grams == 3 and out[1].n_dup == 1
    assert out[2].n_grams == 3 and out[2].n_dup == 1
    assert out[3].n_dup == 0
    assert abs(out[1].dup_frac - 1 / 3) < 1e-6


def test_dup_ngram_spans_short_doc_zero(spark):
    df = spark.createDataFrame([(1, "too short"), (2, "too short")], ["doc_id", "text"])
    out = {r.doc_id: r for r in dup_ngram_spans(df, k=8).collect()}
    assert out[1].n_grams == 0 and out[1].n_dup == 0 and out[1].dup_frac == 0.0


def test_posting_pairs_matches_brute_force(spark):
    """The one pair kernel against brute-force set intersection, on
    string ids (ordered as strings: "d10" < "d2"), a NULL key, a NULL
    id, the MinHash (band, band_hash) two-column key and ids that
    share several keys."""
    rows = [
        ("d1", 0, 11), ("d1", 1, 12), ("d1", 2, 13), ("d1", 3, 14),
        ("d2", 0, 11), ("d2", 1, 12), ("d2", 2, 99), ("d2", 3, 14),
        ("d10", 0, 11), ("d10", 2, 13),
        ("d3", 1, None), ("d4", 1, None),  # NULL keys never match
        ("d5", 1, 12),
        (None, 0, 11), (None, 1, 12),  # a NULL id never pairs
        ("d6", 2, 98), ("d7", 5, 12),  # share nothing / key parts only
    ]
    df = spark.createDataFrame(rows, "doc_id string, band int, band_hash long")
    for keys in (["band", "band_hash"], ["band_hash"]):
        got = sorted(tuple(r) for r in _posting_pairs(df, "doc_id", keys).collect())
        want = posting_pairs(
            (i, tuple(dict(band=b, band_hash=h)[k] for k in keys)) for i, b, h in rows
        )
        assert got == want, keys
    assert ("d1", "d2", 3) in want and ("d10", "d2", 1) in want
