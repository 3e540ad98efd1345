"""Round-16 optimization guards, part B: higher-order-function hoists.

A Spark HOF lambda re-evaluates any captured outer EXPRESSION once
per element; hoisting the expression behind a projection boundary
must be invisible in results. Each test pins the hoisted operator's
output against the inline pure-Column form (``shingle_array``) or a
brute-force Python set reference (``set_reference``) on the same
data, including the short-text / NULL-text edges the hoists' guard
conditions rewrote.
"""

import pytest
from pyspark.sql import functions as F

import set_reference

from hdfe_spark.operators.dedup import containment_pairs
from hdfe_spark.operators.setjoin import (
    setsim_join,
    shingle_array,
    word_shingle_frame,
)
from hdfe_spark.operators.text import dup_ngram_spans


_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy cat again and again"),
    (3, "entirely different words compose this one document here now"),
    (4, "short doc"),
    (5, "tiny"),
    (6, ""),
    (7, None),
    (8, "  leading and trailing   whitespace   tokens collapse here  "),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_word_shingle_frame_matches_shingle_array(docs):
    """The hoisted frame form is bit-identical to the inline Column
    form for every doc, including < k-token, empty, and NULL texts."""
    for k in (2, 5):
        hoisted = _rows(word_shingle_frame(docs, "doc_id", "text", k, "sh"))
        inline = _rows(
            docs.select(
                F.col("doc_id").alias("id"),
                shingle_array(F.col("text"), k).alias("sh"),
            )
        )
        assert hoisted == inline


def test_setsim_join_matches_brute_force_edges(docs):
    out = setsim_join(docs, "doc_id", "text", tau=0.5, shingle_k=3)
    hoisted = _rows(out.select("id_a", "id_b", "jaccard"))
    assert hoisted == set_reference.setsim_pairs(_DOCS, 3, 0.5)
    assert len(hoisted) > 0  # docs 0/1/2 overlap


def test_dup_ngram_spans_hoist_and_fused_parity(docs):
    fused = _rows(dup_ngram_spans(docs, "doc_id", "text", k=3))
    assert fused == set_reference.dup_ngram_spans(_DOCS, 3)
    # every input doc present, including the gram-less short/NULL ones
    assert len(fused) == 9
    by_id = {r[0]: r for r in fused}
    assert by_id[5][1] == 0 and by_id[5][2] == 0  # "tiny": no 3-grams
    # identical dup docs 0/1 have every gram duplicated
    assert by_id[0][1] == by_id[0][2] > 0


def test_dup_ngram_spans_fused_plan_has_cache(docs):
    plan = dup_ngram_spans(docs, "doc_id", "text", k=3)._jdf.queryExecution().toString()
    assert "InMemoryRelation" in plan


def test_containment_hoist_parity_and_edges(docs):
    hoisted = _rows(
        containment_pairs(docs, "text", "doc_id", shingle_k=5, threshold=0.3)
    )
    assert hoisted == set_reference.containment_pairs(_DOCS, 5, 0.3)
    assert len(hoisted) > 0
    # docs shorter than k (4-char "tiny", "", NULL) never appear on
    # either side — the pre-filter matches a size(__s) > 0 filter
    ids = {r[0] for r in hoisted} | {r[1] for r in hoisted}
    assert ids.isdisjoint({5, 6, 7})


def test_containment_prefilter_uses_lowered_length(spark):
    """'İ' lowers to two code points, so "İabc" (raw length 4) has one
    5-shingle after lowering: the empty-set pre-filter must measure the
    lowered text, or both documents vanish from the output."""
    rows = [(0, "İabc"), (1, "İabc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = _rows(containment_pairs(df, "text", "doc_id", shingle_k=5, threshold=0.3))
    assert got == [(0, 1, 1, 1, 1.0), (1, 0, 1, 1, 1.0)]
    assert got == set_reference.containment_pairs(rows, 5, 0.3)


def test_containment_hoist_prefilter_not_reinlined(docs):
    """The hoisted plan's scan-level filter must be the cheap
    length(lower(text)) >= k predicate, not the substituted-back
    shingle transform (the predicate-pushdown trap the prefilter
    avoids)."""
    plan = (
        containment_pairs(docs, "text", "doc_id", shingle_k=5, threshold=0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "length(lower(text" in plan
    # the inline form's giveaway: a filter condition computing the
    # shingle transform over lower(text) per row
    for line in plan.splitlines():
        if "Filter" in line and "transform" in line:
            raise AssertionError(f"shingle transform re-inlined into a filter: {line[:200]}")
