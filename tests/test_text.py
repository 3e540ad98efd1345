"""Text-analysis operator tests on the documents fixture."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from hdfe_spark.operators.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    shingles,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_token_stats(spark):
    df = spark.createDataFrame(
        [(1, "Hello world, 42 times!"), (2, ""), (3, "one")],
        "doc_id long, text string",
    )
    got = token_stats(df).toPandas().set_index("doc_id")
    assert got.loc[1, "n_tokens_ws"] == 4
    # BPE-ish: Hello, world, ',', 42, times, '!' → 6
    assert got.loc[1, "n_tokens_bpe"] == 6
    assert got.loc[2, "n_tokens_ws"] == 0
    assert got.loc[3, "n_tokens_ws"] == 1


def test_quality_score_bounds(docs):
    got = quality_score(docs).select("q_score", "q_punct_ratio", "q_stopword_ratio").toPandas()
    assert (got["q_score"] >= 0).all() and (got["q_score"] <= 1).all()
    assert (got["q_punct_ratio"] >= 0).all() and (got["q_punct_ratio"] <= 1).all()


def test_lang_id_english(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog ran to the house in the garden"),
            (2, "der Hund und die Katze ist nicht mit dem Mann"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = lang_id(df).toPandas().set_index("doc_id")["lang_pred"]
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_shingles(spark):
    df = spark.createDataFrame([(1, "abcdef"), (2, "ab")], "id long, text string")
    got = (
        df.select("id", shingles(F.col("text"), 3).alias("sh"))
        .toPandas()
        .set_index("id")["sh"]
    )
    assert list(got[1]) == ["abc", "bcd", "cde", "def"]
    assert list(got[2]) == []


def test_fingerprint_deterministic_and_shared(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a completely different sentence with other words"),
        ],
        "doc_id long, text string",
    )
    got = doc_fingerprint(df).toPandas().set_index("doc_id")
    fp1, fp2, fp3 = got.loc[1, "fingerprint"], got.loc[2, "fingerprint"], got.loc[3, "fingerprint"]
    assert list(fp1) == list(fp2)  # identical docs → identical fingerprint
    # different docs share few fingerprints
    overlap = len(set(fp1) & set(fp3)) / max(len(set(fp1)), 1)
    assert overlap < 0.2
    assert got.loc[1, "n_fingerprints"] == len(fp1)


def test_fingerprint_no_key_shuffle(docs):
    """Fingerprint is a projection: the only Exchange allowed is the
    deliberate round-robin _spread (no-op at real scale where the scan
    already has >= cores splits) — never a key-hash shuffle."""
    plan = doc_fingerprint(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan.lower()
    assert plan.count("Exchange") <= 1


def test_fingerprint_neardup_pairs_matches_bruteforce(spark):
    """Pair set equals brute-force intersection counting of the same
    per-doc fingerprint sets (the join is exact, not probabilistic)."""
    from hdfe_spark.operators.text import (
        doc_fingerprint,
        fingerprint_neardup_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly for more music tonight"
    )
    rows = [
        (0, base),
        (1, base + " encore"),                       # near-dup of 0
        (2, "completely different text about spark catalyst plans "
            "optimizing distributed joins with broadcast hints"),
        (3, base.replace("quick", "slow")),          # near-dup of 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        fingerprint_neardup_pairs(df, min_shared=5)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )

    fps = doc_fingerprint(df).toPandas().set_index("doc_id")["fingerprint"]
    want = []
    ids = sorted(fps.index)
    for i in ids:
        for j in ids:
            if i < j:
                shared = len(set(fps[i]) & set(fps[j]))
                if shared >= 5:
                    want.append((i, j, shared))
    assert [tuple(r) for r in got.to_numpy()] == sorted(want)
    assert (0, 1) in {(a, b) for a, b, _ in want}  # planted pair found
    assert not any({a, b} == {0, 2} for a, b, _ in want)


def test_repetition_stats_signals(spark):
    from hdfe_spark.operators.text import repetition_stats

    rows = [
        (0, "spam spam spam spam spam spam"),      # one bigram dominates
        (1, "a\nb\na\nb\nc"),                      # 2 of 5 lines are dups
        (2, "unique words only here today"),
        (3, "solo"),                               # < 2 words → no bigrams
        (4, ""),                                   # degenerate: no words
        (5, "   \n  "),                            # whitespace-only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in repetition_stats(df).collect()
    }
    assert out[0]["top_bigram_frac"] == 1.0       # "spam spam" is every bigram
    assert abs(out[1]["dup_line_frac"] - 0.4) < 1e-9
    assert out[2]["top_bigram_frac"] < 0.5
    assert out[3]["top_bigram_frac"] == 0.0       # kept, zeroed
    assert out[3]["n_words"] == 1
    # split('') yields [''] — a word-count filter must see 0, not 1
    assert out[4]["n_words"] == 0
    assert out[5]["n_words"] == 0


def test_normalize_text_collapses(spark):
    from hdfe_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(0, "  Hello   WORLD\n\n  x ")], "doc_id long, text string"
    )
    got = normalize_text(df).collect()[0]["norm_text"]
    assert got == "hello world x"


def test_scrub_text_redacts_and_counts(spark):
    from hdfe_spark.operators.text import scrub_text

    rows = [
        (0, "mail a@b.co and c.d+e@f.org now"),
        (1, "see https://x.y/z?u=a@b.co end"),  # email inside URL → one URL
        (2, "clean text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_text(df).collect()}
    assert out[0]["n_emails"] == 2 and out[0]["n_urls"] == 0
    assert out[0]["scrubbed"] == "mail <EMAIL> and <EMAIL> now"
    assert out[1]["n_urls"] == 1 and out[1]["n_emails"] == 0
    assert out[1]["scrubbed"] == "see <URL> end"
    assert out[2]["scrubbed"] == "clean text"


def test_unigram_logprob_matches_counter_model(spark):
    from collections import Counter
    import math

    from hdfe_spark.operators.text import unigram_logprob

    rows = [(0, "the cat sat"), (1, "the the dog"), (2, "  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in unigram_logprob(df, alpha=0.5).collect()}

    toks = {0: ["the", "cat", "sat"], 1: ["the", "the", "dog"]}
    model = Counter(t for ts in toks.values() for t in ts)
    C, V = sum(model.values()), len(model)
    for d, ts in toks.items():
        want = -sum(
            math.log2((model[t] + 0.5) / (C + 0.5 * V)) for t in ts
        ) / len(ts)
        assert abs(got[d]["bits_per_token"] - want) < 1e-9
        assert got[d]["n_tokens"] == len(ts)
    assert 2 not in got  # zero-token doc carries no mass → dropped


def test_contamination_flags_benchmark_overlap(spark):
    from hdfe_spark.operators.text import contamination

    eight = "a b c d e f g h"
    rows = [
        (0, f"prefix {eight} suffix words here"),   # contains the gram
        (1, "totally different words with no overlap at all ok"),
        (2, f"{eight}"),                            # exactly the gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(f"xx {eight} yy",)], "text string")
    got = {r["doc_id"]: r for r in contamination(docs, bench, n=8).collect()}
    assert got[0]["contaminated"] and got[0]["n_hits"] == 1
    assert not got[1]["contaminated"] and got[1]["n_hits"] == 0
    assert got[2]["contaminated"]
    assert len(got) == 3  # zero-hit docs kept


def test_chunk_documents_edges(spark):
    from hdfe_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [
            (1, ""),                 # empty -> 0 chunks
            (2, "x" * 10),           # <= chunk -> 1 chunk
            (3, "y" * 20),           # == chunk -> 1 chunk
            (4, "z" * 21),           # chunk+1 -> 2 chunks
            (5, "abcdefghij" * 5),   # 50 chars, W=20 S=15 -> 3 chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_chars=20, overlap=5).toPandas()
    counts = out.groupby("doc_id")["chunk_idx"].count().to_dict()
    assert counts == {2: 1, 3: 1, 4: 2, 5: 3}
    # boundary doc: second chunk starts at step=15, covers to char 21
    d4 = out[out.doc_id == 4].sort_values("chunk_idx")
    assert list(d4["chunk_start"]) == [0, 15]
    assert list(d4["n_chunk_chars"]) == [20, 6]


def test_chunk_documents_reconstruct(docs):
    """Dropping each chunk's leading `overlap` chars (after chunk 0)
    and concatenating in chunk_idx order reproduces the document."""
    from hdfe_spark.operators.text import chunk_documents

    W, O = 120, 30
    out = chunk_documents(docs, chunk_chars=W, overlap=O).toPandas()
    orig = docs.select("doc_id", "text").toPandas().set_index("doc_id")["text"]
    for doc_id, grp in out.groupby("doc_id"):
        grp = grp.sort_values("chunk_idx")
        parts = [
            t if i == 0 else t[O:]
            for i, t in enumerate(grp["chunk_text"])
        ]
        assert "".join(parts) == orig.loc[doc_id]
    # every non-empty doc is covered
    assert set(out["doc_id"]) == set(orig[orig.str.len() > 0].index)


def test_feature_hash_counts(spark):
    from hdfe_spark.operators.text import feature_hash

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, ""), (3, "cat")],
        "doc_id long, text string",
    )
    got = feature_hash(df).toPandas()
    # doc 1: cat bucket has cnt 2, dog bucket cnt 1; doc 2 vanishes
    d1 = got[got.doc_id == 1].set_index("bucket")["cnt"].to_dict()
    assert sorted(d1.values()) == [1, 2]
    assert 2 not in set(got["doc_id"])
    # same token -> same bucket across docs
    import hashlib
    cat_bucket = hashlib.md5(b"cat").hexdigest()[:2]
    assert d1[cat_bucket] == 2
    d3 = got[got.doc_id == 3].set_index("bucket")["cnt"].to_dict()
    assert d3 == {cat_bucket: 1}


def test_bigram_logprob_math(spark):
    """Hand-computed add-alpha bigram probabilities on a 3-doc corpus."""
    import math

    from hdfe_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id long, text string",
    )
    got = bigram_logprob(df, alpha=0.5).toPandas().set_index("doc_id")
    # corpus bigrams: doc1: (a,b),(b,a),(a,b); doc2: (a,b)
    # c12: (a,b)=3, (b,a)=1 ; c1: a=3, b=1 ; V = 3 (a, b, x)
    V = 3.0
    p_ab = (3 + 0.5) / (3 + 0.5 * V)
    p_ba = (1 + 0.5) / (1 + 0.5 * V)
    d1 = -(2 * math.log2(p_ab) + math.log2(p_ba)) / 3
    assert abs(got.loc[1, "bits_per_token"] - d1) < 1e-9
    assert got.loc[1, "n_bigrams"] == 3
    assert got.loc[2, "n_bigrams"] == 1
    assert 3 not in got.index  # single-token doc has no bigrams


def test_extract_fields_parses_log_lines(spark):
    from hdfe_spark.operators.text import extract_fields

    rows = [
        ("evt id=12 user=7 type=[click] ts=2024-01-02 03:04:05",),
        ("evt id=13 user=8 type=[view] ts=2024-01-02 04:00:00",),
        ("garbage line",),
    ]
    df = spark.createDataFrame(rows, "line string")
    out = extract_fields(
        df,
        "line",
        r"^evt id=(\d+) user=(\d+) type=\[(\w+)\] "
        r"ts=(\d{4}-\d{2}-\d{2}) (\d{2}):",
        [
            ("id", "long"),
            ("uid", "long"),
            ("etype", "string"),
            ("day", "date"),
            ("hour", "int"),
        ],
    )
    got = out.filter("id IS NOT NULL").orderBy("id").collect()
    assert len(got) == 2
    assert got[0]["uid"] == 7 and got[0]["etype"] == "click"
    assert got[0]["hour"] == 3 and str(got[0]["day"]) == "2024-01-02"
    # garbage: every non-string cast nulls out
    bad = out.filter("id IS NULL").collect()
    assert len(bad) == 1 and bad[0]["etype"] == ""


def test_token_stats_spreads_past_plan_words_in_names(spark, tmp_path):
    # A single-split scan is spread to the cluster's cores unless the
    # plan already shuffles. Column names and literals that spell a
    # plan node ('Join us', 'SortKey') do not make a plan shuffled.
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs more than one core")
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"doc {i} text", i % 3) for i in range(60)],
        "doc_id long, text string, SortKey int",
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    out = token_stats(df.filter(F.col("text") != "Join us"))
    assert out.rdd.getNumPartitions() > 1
    assert token_stats(df).rdd.getNumPartitions() > 1
