"""Text analysis operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all over
the ``documents`` fixture table.

Everything here is JVM-side built-in expressions (split / regexp /
array functions) inside whole-stage codegen — no Python in the hot
path. Each operator is a narrow projection — no shuffle at scale
(the CPU-heavy ones round-robin a too-narrow scan first, see
``_spread``) — so the plans scale linearly with input and
parallelize per file split at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdfe_spark.session import _already_exchanged

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language ID. Deliberately small + deterministic; a production system
# would swap in fastText — this mirrors common public heuristics
# (cld-style stopword voting).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "von", "nicht", "mit", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "una", "es"],
}

# A BPE-ish token regex: word pieces, numbers, or single non-space
# punctuation — close to common public BPE pre-tokenizers.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    """Whitespace tokens (lowercased), empty strings filtered."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition when a bare scan has fewer splits than
    the cluster has cores. CPU-heavy per-row expressions (regex
    counting, per-char hashing) otherwise serialize on one task when
    the input is a single parquet row-group — the local-fixture case.
    At real scale the input is already ≥cores splits and this is a
    no-op, so the shuffle only ever pays for itself.

    Applied ONLY to shuffle-free plans: if anything upstream already
    exchanged (window/agg/join/repartition), the data is already
    ``shuffle.partitions`` wide — and probing ``df.rdd`` there would
    eagerly execute the upstream stages under AQE."""
    if _already_exchanged(df):
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish token counts, chars per token."""
    t = tokens(F.col(text_col))
    ws = F.size(t)
    bpe = F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE))
    df = _spread(df)
    return df.select(
        "*",
        ws.alias("n_tokens_ws"),
        bpe.cast("bigint").alias("n_tokens_bpe"),
        (F.length(F.col(text_col)) / F.greatest(ws, F.lit(1))).alias(
            "chars_per_token"
        ),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0,1]:
    length, punctuation ratio, stopword ratio, mean word length,
    uppercase ratio — the standard public quality-filter signals
    (Gopher/C4-style rules)."""
    text = F.col(text_col)
    n_chars = F.length(text)
    t = tokens(text)
    n_tok = F.size(t)
    stop_all = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    n_stop = F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in stop_all])))
    punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    upper = F.regexp_count(text, F.lit(r"[A-Z]"))

    out = df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        (punct / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (n_stop / F.greatest(n_tok, F.lit(1))).alias("q_stopword_ratio"),
        (upper / F.greatest(n_chars, F.lit(1))).alias("q_upper_ratio"),
        (n_chars / F.greatest(n_tok, F.lit(1))).alias("q_mean_word_len"),
    )
    score = (
        F.when(F.col("q_n_tokens") < 5, 0.0).otherwise(1.0)
        * (1.0 - F.least(F.col("q_punct_ratio") * 4.0, F.lit(1.0)))
        * (1.0 - F.least(F.col("q_upper_ratio") * 4.0, F.lit(1.0)))
    )
    return out.withColumn("q_score", score)


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID: the language whose stopword list
    overlaps the document's tokens most (ties → lexicographically
    first). ``lang_pred`` = 'und' when nothing matches."""
    t = tokens(F.col(text_col))
    scores = [
        F.size(F.array_intersect(t, F.array(*[F.lit(w) for w in ws]))).alias(
            f"__s_{lang}"
        )
        for lang, ws in sorted(LANG_STOPWORDS.items())
    ]
    out = df.select("*", *scores)
    langs = sorted(LANG_STOPWORDS)
    best = F.greatest(*[F.col(f"__s_{l}") for l in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for l in langs:  # first max wins (deterministic)
        pred = pred.when(F.col(f"__s_{l}") == best, F.lit(l))
    return out.withColumn("lang_pred", pred).drop(*[f"__s_{l}" for l in langs])


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
) -> DataFrame:
    """Canonical text normalization (the pre-hash step of every dedup
    pipeline): lowercase, trim, collapse runs of whitespace to one
    space. Pure codegen projection, no shuffle; the normalized form is
    what exact/MinHash dedup should hash so cosmetic whitespace or
    case differences don't defeat duplicate detection."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn(out_col, norm)


def feature_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hex: int = 2,
) -> DataFrame:
    """Hashing-trick featurizer (Weinberger et al. ICML'09) in LONG
    form: each token maps to one of ``16**n_hex`` buckets by md5
    prefix, and the output is per-document bucket counts — the sparse
    bag-of-words representation classifiers train on, without a
    vocabulary pass.

    md5 keeps the bucket function engine-portable (same trick as
    ``operators/sampling.py``), and the long (id, bucket, cnt) form
    keeps every driver-compared value scalar. Plan: one explode + one
    map-side-combined grouped count — shuffle carries only
    (doc, bucket) partial counts, bounded by docs × buckets."""
    toks = F.explode(tokens(F.col(text_col))).alias("__tok")
    return (
        df.select(F.col(id_col), toks)
        .select(
            F.col(id_col),
            F.substring(F.md5(F.col("__tok")), 1, n_hex).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into overlapping fixed-width character
    chunks with stable ``(id, chunk_idx)`` identity — the unit-of-work
    transform every RAG / embedding / context-window pipeline runs
    before featurization. (Beyond-reference: the reference has no text
    surface at all.)

    Chunk ``i`` covers characters ``[i*step, i*step + chunk_chars)``
    with ``step = chunk_chars - overlap``; the final chunk is short.
    Chunk-count arithmetic is pure integer (``div``), so any engine
    reproduces the exact same chunk set — no float ceil at the
    boundary. Empty documents yield zero chunks (``sequence`` would
    otherwise count DOWN from 0 to -1 — guarded).

    Scale: narrow projection + explode, zero shuffle; output rows ≈
    input chars / step, each chunk carries only its own slice, so the
    stage streams at scan speed and splits per parquet row-group at
    100 TB.
    """
    if overlap >= chunk_chars:
        raise ValueError(f"overlap {overlap} must be < chunk_chars {chunk_chars}")
    step = chunk_chars - overlap
    L = F.length(F.col(text_col))
    n_chunks = (
        F.when(L <= 0, F.lit(0))
        .when(L <= chunk_chars, F.lit(1))
        .otherwise(F.expr(
            f"((length({text_col}) - {chunk_chars} + {step - 1}) div {step}) + 1"
        ))
    ).cast("int")
    idx = F.explode(
        F.when(
            n_chunks > 0, F.sequence(F.lit(0), n_chunks - F.lit(1))
        ).otherwise(F.array().cast("array<int>"))
    )
    start = (F.col("chunk_idx").cast("bigint") * step).alias("chunk_start")
    chunk = F.col(text_col).substr(
        (F.col("chunk_idx") * step + 1).cast("int"), F.lit(chunk_chars)
    )
    return (
        df.select(F.col(id_col), F.col(text_col), idx.alias("chunk_idx"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            start,
            chunk.alias("chunk_text"),
            F.length(chunk).cast("bigint").alias("n_chunk_chars"),
        )
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1
    heuristics, public): per document,

    - ``n_words`` — whitespace word count;
    - ``dup_line_frac`` — fraction of lines that are duplicates of an
      earlier line (boilerplate/spam signal); JVM array expression,
      no shuffle;
    - ``top_bigram_frac`` — fraction of all word bigrams occupied by
      the single most frequent bigram (looping-text signal); computed
      the scalable way: explode bigrams → one grouped count → per-doc
      max via window over already-aggregated rows (the tf_idf plan
      shape), never a per-doc quadratic higher-order expression.
    """
    # split('', ...) yields [''] → size 1, and trim() strips SPACES
    # only — an empty or whitespace-only doc must have ZERO words
    # (Gopher word-count filters key on this), so blank docs get an
    # empty word array outright.
    blank = F.regexp_replace(F.col(text_col), r"\s+", "") == ""
    words = F.when(blank, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(F.col(text_col)), r"\s+")
    )
    lines = F.split(F.col(text_col), "\n")
    base = df.select(
        F.col(id_col),
        words.alias("__w"),
        F.size(words).alias("n_words"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(lines)) / F.size(lines),
            6,
        ).alias("dup_line_frac"),
    )
    # sequence(0, size-2) is DESCENDING when size < 2 — guard to empty
    bigrams = F.when(
        F.size(F.col("__w")) >= 2,
        F.expr(
            "transform(sequence(0, size(__w) - 2),"
            " i -> concat(__w[i], ' ', __w[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = base.select(id_col, F.explode(bigrams).alias("__bg"))
    counts = bg.groupBy(id_col, "__bg").agg(F.count(F.lit(1)).alias("__c"))
    agg = counts.groupBy(id_col).agg(
        F.round(F.max("__c") / F.sum("__c"), 6).alias("top_bigram_frac")
    )
    # left join keeps docs with < 2 words (no bigrams → fraction 0)
    return (
        base.drop("__w")
        .join(agg, on=id_col, how="left")
        .withColumn(
            "top_bigram_frac", F.coalesce(F.col("top_bigram_frac"), F.lit(0.0))
        )
    )


# Deliberately conservative, RE2-compatible patterns (no lookaround)
# so the same regex runs in Spark (Java), DuckDB (RE2), and most other
# engines — scrubbing must be reproducible wherever the corpus goes.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def scrub_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "scrubbed",
    email_token: str = "<EMAIL>",
    url_token: str = "<URL>",
) -> DataFrame:
    """PII/URL redaction (the pre-release scrub of every public-corpus
    pipeline): replace emails and URLs with placeholder tokens and
    count the replacements per document. Pure codegen projection —
    two regexp passes, no shuffle, no Python. URLs are scrubbed FIRST
    so an email inside a URL query string counts once, as a URL."""
    t = F.col(text_col)
    n_urls = F.regexp_count(t, F.lit(URL_RE))
    after_url = F.regexp_replace(t, URL_RE, url_token)
    n_emails = F.regexp_count(after_url, F.lit(EMAIL_RE))
    return df.select(
        "*",
        n_urls.cast("bigint").alias("n_urls"),
        n_emails.cast("bigint").alias("n_emails"),
        F.regexp_replace(after_url, EMAIL_RE, email_token).alias(out_col),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus-trained unigram language-model quality score per
    document: mean negative log₂-probability of its tokens
    (bits/token) under an add-α-smoothed unigram model fit on the
    WHOLE corpus — the cheap end of the CCNet/Wikipedia-LM perplexity
    filter (Wenzek et al. 2020, public): low = fluent/common text,
    high = rare-token junk. The reference has nothing like it; a
    curation pipeline sorts or thresholds on this column.

    Plan (100 TB shape): explode tokens → one grouped term count (the
    MODEL — vocabulary-sized, broadcast back) → per-doc aggregate.
    Two key-partitioned shuffles, map-side partials on both; the
    corpus totals ride a broadcast 1-row aggregate inside the same
    lazy plan. Documents with zero tokens carry no probability mass
    and drop out (mirrored by the oracle).

    p(t) = (c_t + α) / (C + α·V);  score_d = −Σ_{t∈d} log₂ p(t) / n_d
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    model = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c_t"))
    totals = model.agg(
        F.sum("c_t").alias("__C"), F.count(F.lit(1)).alias("__V")
    )
    logp = F.log2(
        (F.col("c_t") + F.lit(alpha))
        / (F.col("__C") + F.lit(alpha) * F.col("__V"))
    )
    return (
        toks.join(F.broadcast(model), on="t")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.sum(logp) / F.count(F.lit(1))).alias("bits_per_token"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    min_count: int = 1,
) -> DataFrame:
    """Corpus-trained BIGRAM language-model quality score: mean
    −log₂ p(wᵢ | wᵢ₋₁) in bits/token under add-α smoothing — one rung
    up from ``unigram_logprob`` on the CCNet-style perplexity ladder
    (conditional probabilities punish improbable token ORDER, not just
    rare tokens).

    p(w₂|w₁) = (c(w₁,w₂) + α) / (c₁(w₁) + α·V), with c₁ the count of
    w₁ as a context (= Σ_w c(w₁,w)) and V the full unigram vocabulary.
    Documents with < 2 tokens carry no bigrams and drop out (mirrored
    by the oracle).

    Plan: bigrams form JVM-side (zip_with of two slices — no Python),
    then one (w₁,w₂) grouped count (the model) and one w₁ count, both
    broadcast back onto the bigram stream; per-doc aggregate closes
    the plan. At 100 TB the bigram model may exceed broadcast size —
    set ``min_count`` > 1 to prune rare bigrams from the model (the
    HAVING-clause knob): pruned bigrams score as unseen, i.e. with
    just the α mass, which only LOWERS rare-sequence scores (the
    conservative direction for a quality filter); ``min_count=1`` is
    the exact model the driver oracle hash-checks. Or keep the full
    model and let the join shuffle; the per-doc math is unchanged.
    """
    arr = tokens(F.col(text_col))
    base = df.select(F.col(id_col), arr.alias("__a")).filter(
        F.size("__a") >= 2
    )
    bg = base.select(
        F.col(id_col),
        F.expr(
            "explode(zip_with(slice(__a, 1, size(__a) - 1),"
            " slice(__a, 2, size(__a) - 1),"
            " (x, y) -> struct(x AS w1, y AS w2)))"
        ).alias("__bg"),
    ).select(id_col, F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))

    model = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if min_count > 1:
        model = model.filter(F.col("c12") >= min_count)
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = df.select(
        F.explode(tokens(F.col(text_col))).alias("t")
    ).agg(F.countDistinct("t").alias("__V"))

    # LEFT join + coalesce: with min_count pruning a bigram can be
    # absent from the model — it must score as unseen (c12 = 0), not
    # vanish from the doc's token count. min_count=1 ⇒ every corpus
    # bigram is present and the left join degenerates to the inner.
    logp = F.log2(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(alpha))
        / (F.col("c1") + F.lit(alpha) * F.col("__V"))
    )
    return (
        bg.join(F.broadcast(model), on=["w1", "w2"], how="left")
        .join(F.broadcast(ctx), on="w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.sum(logp) / F.count(F.lit(1))).alias("bits_per_token"),
        )
    )


def contamination(
    df: DataFrame,
    bench: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination by word n-gram overlap (the
    GPT-3/PaLM-style 'dirty if it shares an n-gram with an eval set'
    rule — Brown et al. 2020 appx C, public): every corpus document
    gets the count of DISTINCT benchmark n-grams it contains and a
    ``contaminated`` flag. ``bench`` is the eval-set text table.

    Plan (100 TB shape): benchmark n-grams are eval-set-sized —
    distinct-ed and BROADCAST; corpus n-grams stream through that
    broadcast hash join as a NARROW filter (no shuffle of the
    corpus-sized gram stream), so only the surviving hits — eval-set
    bounded — pay the distinct + per-doc count shuffles. Zero-hit
    docs come back via a broadcast join onto the corpus ids. Never an
    all-pairs compare, never a corpus-sized shuffle.
    """
    def grams(words: Column) -> Column:
        return F.when(
            F.size(words) >= n,
            F.expr(
                f"transform(sequence(0, size(__w) - {n}),"
                f" i -> array_join(slice(__w, i + 1, {n}), ' '))"
            ),
        ).otherwise(F.array().cast("array<string>"))

    doc_grams = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__w")
    ).select(F.col(id_col), F.explode(grams(F.col("__w"))).alias("g"))
    bench_grams = (
        bench.select(tokens(F.col(bench_text_col)).alias("__w"))
        .select(F.explode(grams(F.col("__w"))).alias("g"))
        .distinct()
    )
    hits = (
        # broadcast join FIRST (narrow filter), distinct only the hits
        doc_grams.join(F.broadcast(bench_grams), on="g")
        .select(id_col, "g")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return df.select(id_col).join(F.broadcast(hits), on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int | None = None,
) -> DataFrame:
    """Per-(doc, term) TF-IDF (SURVEY.md §7.2 step 9): smoothed
    sklearn convention ``tf · (ln((N+1)/(df+1)) + 1)`` with
    ``tf = n_td / n_d``.

    Plan: explode tokens → one grouped count per (doc, term) → doc
    length and corpus document-frequency as two level-sized aggs — the
    term table is dimension-sized (vocabulary) and broadcast back. The
    corpus size N is a broadcast 1-row aggregate inside the same lazy
    plan (a pruned scan of the id column), not a separate blocking
    driver action. With ``top_k``, a per-doc window keeps the k
    highest-scoring terms (ties → term asc), shuffling only the
    already-aggregated (doc, term) rows.
    """
    # countDistinct skips NULLs but a null-id group is still one doc
    # (matching the previous .distinct().count() semantics) — add the
    # null group back via a max(isnull) rider in the same aggregate.
    n_docs_df = df.select(
        (
            F.countDistinct(id_col)
            + F.max(F.col(id_col).isNull().cast("long"))
        ).alias("__n_docs")
    )
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tc = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("n_td"))
    wdoc = Window.partitionBy(id_col)
    tc = tc.withColumn("n_d", F.sum("n_td").over(wdoc))
    docfreq = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    out = (
        tc.join(F.broadcast(docfreq), on="term")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            F.col(id_col),
            "term",
            (
                (F.col("n_td") / F.col("n_d"))
                * (
                    F.log(
                        (F.col("__n_docs") + F.lit(1.0))
                        / (F.col("df_t") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    if top_k is not None:
        w = Window.partitionBy(id_col).orderBy(
            F.col("tfidf").desc(), F.col("term")
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_k)
            .drop("__rn")
        )
    return out


def fingerprint_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 7,
    window: int = 4,
    min_shared: int = 5,
) -> DataFrame:
    """MOSS-style near-duplicate pairs: documents sharing at least
    ``min_shared`` winnowing fingerprints (Schleimer et al. 2003 §4 —
    matching selected min-hashes localizes shared substrings of
    length ≥ k, unlike bag-of-shingles Jaccard).

    Plan shape: fingerprint (Arrow kernel, no shuffle) → explode to
    (fingerprint, id) postings → self-join within equal-fingerprint
    postings only → per-pair count (``setjoin._posting_pairs``). Cost
    scales with posting-list collisions, never O(n²); a pathologically
    common fingerprint (a boilerplate phrase) is the skew knob — drop
    postings whose list exceeds ``HDFE_MAX_POSTING`` df-frequency
    (stop-fingerprint removal, the standard fix). ``min_shared`` must
    be >= 1.
    """
    import os

    from hdfe_spark.operators.setjoin import _posting_pairs

    if min_shared < 1:
        raise ValueError(
            f"fingerprint_neardup_pairs: min_shared must be >= 1, got {min_shared!r}"
        )
    max_posting = int(os.environ.get("HDFE_MAX_POSTING", 1000))
    fp = doc_fingerprint(df, text_col, k=k, window=window).select(
        F.col(id_col), F.explode("fingerprint").alias("__fp")
    )
    # stop-fingerprint removal: bound every posting list
    counts = fp.groupBy("__fp").agg(F.count(F.lit(1)).alias("__df"))
    fp = fp.join(
        counts.filter(F.col("__df") <= max_posting).select("__fp"),
        on="__fp",
    )
    return (
        _posting_pairs(fp, id_col, ["__fp"])
        .withColumnRenamed("n_shared", "shared_fingerprints")
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def shingles(text: Column, k: int = 5) -> Column:
    """Character k-shingles as an array (JVM-side: sequence + substr;
    no UDF). Empty array for texts shorter than ``k``."""
    arr = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(text) - (k - 1), F.lit(1))),
        lambda i: text.substr(i, F.lit(k)),
    )
    return F.when(F.length(text) >= k, arr).otherwise(F.array().cast("array<string>"))


def doc_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    k: int = 7,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint (Schleimer et al. 2003): hash every
    char k-gram, then keep the minimum hash of each sliding window of
    ``window`` consecutive k-gram hashes; the distinct minima are the
    document's fingerprint set.

    Arrow-vectorized kernel (functions/hashing.py): one O(len)
    rolling-hash pass + sliding-window min per doc. The equivalent
    JVM higher-order expression re-inlines the k-gram array into the
    window lambda (O(len²) interpreted re-eval — measured 200+ s at
    sf0.1), so this is deliberately NOT a built-in-expression plan.
    One narrow projection, no shuffle at scale.
    """
    from hdfe_spark.functions.hashing import make_winnow_udf

    fp = make_winnow_udf(k, window)(F.col(text_col))
    return (
        _spread(df)
        .withColumn("fingerprint", fp)
        .withColumn("n_fingerprints", F.size("fingerprint"))
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Shannon entropy (nats) of each document's non-whitespace
    character distribution — the classic gibberish/boilerplate signal
    (near-0 = one repeated char, ~3+ = natural language; binary blobs
    and base64 spam sit distinctly high). Complements the word-level
    Gopher signals in ``repetition_stats``.

    Plan: explode characters → one (doc, char) grouped count (shuffle
    bounded by docs × alphabet after map-side combine) → per-doc
    aggregation of ``-Σ p·ln p``. Pure JVM expressions; whitespace is
    stripped FIRST in a codegen projection so both engines see the
    same character set (regex '.'-extraction vs split() disagree on
    newlines otherwise)."""
    cleaned = F.regexp_replace(F.col(text_col), r"\s", "")
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(cleaned, "")).alias("__ch"),
    ).filter(F.col("__ch") != "")
    counts = chars.groupBy(id_col, "__ch").agg(
        F.count(F.lit(1)).alias("__c")
    )
    # Per-doc totals ride a window over the ALREADY-aggregated counts
    # (alphabet-sized per doc), not the raw characters.
    n = F.sum("__c").over(Window.partitionBy(id_col))
    p = F.col("__c") / n
    return (
        counts.withColumn("__p", p)
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_nonspace"),
            F.round(-F.sum(F.col("__p") * F.ln("__p")), 6).alias("entropy"),
        )
    )


def dup_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-document duplicated-span detection — the n-gram variant
    of ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): a token ``k``-gram that
    occurs in more than one document marks a memorizable duplicated
    span on every document that carries it.

    Returns one row per input document: ``n_grams`` (number of
    consecutive k-grams), ``n_dup`` (how many of them also appear in
    at least one OTHER document), and ``dup_frac`` — the span-level
    duplication fraction a curation pipeline thresholds on.

    Beyond-reference surface; reuses the engine-wide tokenizer
    contract (`tokens`, lowercased whitespace split).

    100 TB plan: one codegen shingling projection (no Python), one
    hash aggregation keyed by the gram to find cross-document grams
    (map-side combine collapses each document's repeats first), one
    equi-join of the per-position gram stream against that duplicate
    set, and per-document count aggregations. Every stage is linear
    in total token count. The gram TEXT is the key here for
    hash-collision-free exactness (this is the oracle-checked form);
    at petabyte scale key the shuffle on ``xxhash64(gram)`` instead —
    64-bit collisions are ~n²/2⁶⁵ and each costs one false dup mark,
    a curation-acceptable error the docstring contract makes explicit.
    """
    from hdfe_spark.operators.dedup import _query_scoped_persist
    from hdfe_spark.operators.setjoin import word_shingle_frame

    # Hoisted token array (optimization r16, guide §1.2): a transform
    # lambda re-evaluates any captured outer EXPRESSION per element, so
    # the inline form re-tokenized the full text once per k-gram
    # (measured 25 s -> ~2 s on the declared sf0.1 query).
    g = word_shingle_frame(df, id_col, text_col, k, "__grams", id_out=id_col)
    # Query-scoped persist (optimization r16, guide §1.2): `g` feeds
    # THREE consumers (`per`, and `ex` on both sides of the dup join),
    # so the shingling transform re-evaluates per consumer — the
    # dominant cost after the hoist (measured ~3 s/eval at sf0.1). One
    # persisted evaluation; values unchanged (same lineage); bench
    # clears caches between queries so nothing leaks across the timed
    # region.
    g = _query_scoped_persist(g)
    ex = g.select(id_col, F.explode("__grams").alias("__gram"))

    dup = (
        ex.groupBy("__gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") > 1)
        .select("__gram")
    )
    dupc = (
        ex.join(dup, "__gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__ndup"))
    )
    per = g.select(F.col(id_col), F.size("__grams").alias("n_grams"))
    return (
        per.join(dupc, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("__ndup"), F.lit(0)).cast("bigint").alias("n_dup"),
            F.round(
                F.coalesce(F.col("__ndup"), F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def extract_fields(
    df: DataFrame,
    col: str,
    pattern: str,
    fields: "Sequence[tuple[str, str]]",
    keep: "Sequence[str]" = (),
) -> DataFrame:
    """Structured field extraction from semi-structured text lines
    (the log-parsing step at the head of any telemetry/ingest
    pipeline): regex capture group i+1 becomes column ``fields[i] =
    (name, sql_type)``, cast from string.

    Pure JVM codegen (``regexp_extract`` per field — no Python, no
    shuffle: a map-only projection that fuses into the scan at any
    scale). Non-matching lines yield empty-string extractions, which
    ``try_cast`` to NULL for non-string types (ANSI-safe — a plain
    cast throws on the first garbage line) — filter on a required
    field's nullness to drop garbage lines.

    Portability: stick to the RE2/Java-regex COMMON subset
    (character classes, quantifiers, anchors, groups — no
    backreferences or lookaround) and the extraction is
    engine-reproducible; the repo's oracle queries do exactly this.
    """
    exprs = [F.col(c) for c in keep]
    for i, (name, typ) in enumerate(fields):
        e = F.regexp_extract(F.col(col), pattern, i + 1)
        exprs.append(e.try_cast(typ).alias(name))
    return df.select(*exprs)


def scrub_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Duplicated-span REMOVAL — the rewrite stage completing
    `dup_ngram_spans` (which only measures): every token covered by
    a k-gram that appears in >= ``min_docs`` documents is deleted,
    and the survivors are re-joined in order. This is the ExactSubstr
    dedup action of Lee et al. 2022 expressed on token k-grams: the
    memorizable cross-document span disappears from EVERY document
    carrying it while unique prose stays.

    Returns one row per document that keeps at least one token:
    ``n_tokens`` (before), ``n_kept``, and ``scrubbed_text``.

    100 TB plan (all linear in total token count, zero Python): one
    codegen shingling projection with START POSITIONS, one
    gram-keyed aggregation for the duplicate set (map-side combine),
    one equi-join back to mark covered starts, one explode of the
    fixed-width cover window (k rows per covered start, distinct),
    one anti-join against the token-position stream, and one
    per-document ordered re-assembly (hash-partitioned by doc, never
    global). The gram text keys the shuffle for exactness; swap in
    ``xxhash64(gram)`` at petabyte scale (`dup_ngram_spans` note).
    """
    t = tokens(F.col(text_col))
    n = F.size(t)
    base = df.select(F.col(id_col), t.alias("__toks"))
    grams_expr = F.when(
        F.size("__toks") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - F.lit(k)),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(
                    F.slice("__toks", i + 1, k), " "
                ).alias("gram"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<pos:int,gram:string>>")
    )
    g = base.select(
        id_col, F.explode(grams_expr).alias("__pg")
    ).select(
        id_col,
        F.col("__pg.pos").alias("__pos"),
        F.col("__pg.gram").alias("__gram"),
    )
    dup = (
        g.groupBy("__gram")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__gram")
    )
    covered = (
        g.join(dup, "__gram")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("__pos"), F.col("__pos") + F.lit(k - 1)
                )
            ).alias("__tp"),
        )
        .distinct()
    )
    tok = base.select(
        id_col,
        F.posexplode("__toks").alias("__tp", "__token"),
    )
    kept = tok.join(covered, [id_col, "__tp"], "left_anti")
    totals = base.select(
        F.col(id_col), F.size("__toks").cast("long").alias("n_tokens")
    )
    out = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__tp").alias("p"),
                                F.col("__token").alias("t"),
                            )
                        )
                    ),
                    lambda s: s.getField("t"),
                ),
                " ",
            ).alias("scrubbed_text"),
        )
    )
    return out.join(totals, id_col).select(
        id_col, "n_tokens", "n_kept", "scrubbed_text"
    )


def lm_score_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style corpus bucketing (Wenzek et al. 2020 split their
    crawl into head/middle/tail by LM perplexity): every document is
    scored by how COMMON its vocabulary is and the corpus is cut
    into ``n_buckets`` exact equal-count tiers — head = fluent
    common prose, tail = rare-token junk, the slice boundaries every
    curation recipe then samples from differently.

    The score is avg_tf = (sum of the corpus-wide counts of the
    doc's tokens) / n_tokens. Unlike ``unigram_logprob``'s
    bits/token (a FLOAT SUM of log2 terms — summation order and
    libm log2 ulps differ across engines, fine for a rounded score
    column, unsafe as a SORT KEY where one ulp flips a bucket
    boundary), avg_tf is one IEEE division of two exact integers —
    bit-identical everywhere, so the tile assignment is too.
    Ordering: (avg_tf desc, doc_id) — total, engine-portable.

    Plan: explode → one vocabulary-sized count aggregation joined
    back on the token → per-doc integer reduction → `rank.exact_ntile`
    (distributed order statistics, no single-partition window). The
    vocabulary join is NOT hinted broadcast: whitespace-token
    vocabulary is unbounded (at web-crawl scale it can exceed the
    broadcast/driver limits — unlike ``bm25_scores``, whose
    broadcast table is bounded by the query's term count), so AQE
    decides shuffle- vs broadcast-join from the measured size.
    Zero-token docs drop (no score; mirrored by oracles)."""
    from hdfe_spark.operators.rank import exact_ntile

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    )
    model = toks.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("c_t")
    )
    per_doc = (
        toks.join(model, "t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("c_t").cast("long").alias("s_tf"),
        )
        .withColumn(
            "avg_tf",
            F.col("s_tf").cast("double") / F.col("n_tokens").cast("double"),
        )
        .withColumn("__neg", -F.col("avg_tf"))
    )
    tiled = exact_ntile(
        per_doc, ["__neg", id_col], n_buckets, tile_col="bucket"
    )
    return tiled.select(
        id_col, "n_tokens", "s_tf", "avg_tf", "bucket"
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 retrieval scoring of every document against a bag
    of query terms — THE lexical ranking function behind retrieval
    (and behind retrieval-based data curation: "find the corpus
    slice relevant to this topic before sampling"). Completes the
    search-side family: `inverted_index` builds postings, `tf_idf`
    weighs terms, this ranks documents for a query.

        score(d) = Σ_t idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*|d|/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))     [Robertson]

    Plan (100 TB shape): one tokenize/explode pass filtered to the
    (broadcast) query vocabulary — the corpus-wide shuffle carries
    ONLY query-term hits; doc lengths and df come from two small
    aggregations (avgdl is a broadcast 1-row scalar). N and avgdl
    span the WHOLE corpus including token-less documents (a
    stats-over-hits-only shortcut would shrink every idf). Repeated
    query terms weight their contribution by query-term frequency —
    true bag semantics, not a silent set collapse. Per-term inputs
    (tf, qtf, df, |d|, N) are exact integers; the score is a
    per-term IEEE expression SUMMED over <= |query| terms per doc
    (a bounded, per-doc-deterministic reduction — emit per-term
    rows if cross-engine hash-exactness of the sum order matters).
    Returns (id, score, n_hit_terms), only for docs hitting >= 1
    query term."""
    from collections import Counter

    qtf_map = Counter(t.lower() for t in query_terms)
    if not qtf_map:
        raise ValueError("bm25_scores: empty query")
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(t, c) for t, c in sorted(qtf_map.items())],
        "t string, __qtf long",
    )
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    )
    dl = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__dl")
    )
    # corpus stats over ALL documents (token-less docs count toward
    # N and pull avgdl down, exactly like a reference implementation
    # iterating the collection)
    stats = docs.agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    ).crossJoin(
        dl.agg(F.coalesce(F.sum("__dl"), F.lit(0)).cast("long").alias("__tot"))
    )
    hits = (
        toks.join(F.broadcast(qdf), "t")
        .groupBy(id_col, "t", "__qtf")
        .agg(F.count(F.lit(1)).cast("long").alias("__tf"))
    )
    df_t = hits.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    j = (
        hits.join(F.broadcast(df_t), "t")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    n = F.col("__n").cast("double")
    dfc = F.col("__df").cast("double")
    tf = F.col("__tf").cast("double")
    dlen = F.col("__dl").cast("double")
    avgdl = F.col("__tot").cast("double") / n
    idf = F.log((n - dfc + F.lit(0.5)) / (dfc + F.lit(0.5)) + F.lit(1.0))
    denom = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * dlen / avgdl
    )
    term_score = (
        F.col("__qtf").cast("double")
        * idf * tf * F.lit(k1 + 1.0) / denom
    )
    return (
        j.withColumn("__s", term_score)
        .groupBy(id_col)
        .agg(
            F.sum("__s").alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        )
    )


def rrf_fuse(
    rankings: DataFrame,
    id_col: str,
    source_col: str,
    rank_col: str,
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of multiple ranked lists — the standard way to merge `bm25_scores`
    (lexical) with `cosine_topk` (dense) retrieval, completing the
    engine's search family with the hybrid step every RAG pipeline
    ships.

    ENGINE-EXACT by integer arithmetic: instead of the paper's float
    1/(k0 + rank), each hit contributes the exact integer
    ``2^32 div (k0 + rank)`` — a monotone transform of the classic
    score (same denominator order) whose SUM is order-free on any
    engine; no float appears anywhere. Ranks must be >= 1 (guarded
    in-plan: a 0/negative rank raises via ANSI division only for
    k0 + rank = 0, so the guard is explicit). A document appearing
    twice under one source keeps both contributions (feed top-k
    lists, which are duplicate-free by construction — the contract).

    Returns the fused top ``k``: (id, rrf_q, n_sources, rank) with
    the total order (rrf_q DESC, id ASC) — rrf_q the exact integer
    fused score, n_sources the number of distinct contributing
    lists. One aggregation keyed by the doc id + one global top-k
    (limit-k after a sort of |candidate| rows — the union of top-k
    lists, NOT the corpus).
    """
    if k0 < 0:
        raise ValueError("rrf_fuse: k0 must be >= 0")
    if k < 1:
        raise ValueError("rrf_fuse: k must be >= 1")
    base = rankings.filter(
        F.col(id_col).isNotNull()
        & F.col(source_col).isNotNull()
        & F.col(rank_col).isNotNull()
    )
    # TRUE integral division (SQL `div`), never float `/` + floor:
    # double division of longs can round up across an integer
    # boundary and flip the floor
    contrib = F.when(
        F.col(rank_col) >= 1,
        F.expr(
            f"cast(4294967296 as bigint) div "
            f"(cast({int(k0)} as bigint) + cast(`{rank_col}` as bigint))"
        ),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("rrf_fuse: rank must be >= 1, got "),
                F.col(rank_col).cast("string"),
            )
        ).cast("long")
    )
    fused = base.groupBy(F.col(id_col).alias("id")).agg(
        F.sum(contrib).cast("long").alias("rrf_q"),
        F.count_distinct(F.col(source_col)).cast("long").alias(
            "n_sources"
        ),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf_q").desc(), F.col("id").asc())
    # rank as LONG — the family convention (`item_cf` casts its
    # row_number the same way) so the SQL oracle's BIGINT row_number
    # hash-matches without a papering cast on the oracle side.
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("id", "rrf_q", "n_sources", "rank")
    )




def _rake_words(df, text_col, stopwords):
    """Shared RAKE word derivation for the batch operator and
    `streaming/ops.py::streaming_rake`: lowercase -> punctuation
    runs and \\b-anchored whole-word stopwords become phrase
    delimiters -> (word, phrase length) rows. Stateless row
    expressions, so the same pipeline runs on a stream unchanged."""
    stops = sorted(
        set(LANG_STOPWORDS["en"] if stopwords is None else stopwords)
    )
    if not stops:
        raise ValueError("rake_keywords: stopword list is empty")
    # stopwords are interpolated into the delimiter regex: a regex
    # metacharacter (apostrophe-word, '+', '.') would silently
    # corrupt the alternation instead of matching literally, and a
    # non-word char can't be \b-anchored sensibly anyway (ADVICE r9)
    bad = [s for s in stops if not re.fullmatch(r"[a-z0-9]+", s)]
    if bad:
        raise ValueError(
            "rake_keywords: stopwords must match [a-z0-9]+ "
            f"(lowercase, no regex metacharacters); got {bad[:5]}"
        )
    stop_re = r"\b(" + "|".join(stops) + r")\b"
    lowered = F.lower(F.col(text_col))
    segs = F.split(
        F.regexp_replace(
            F.regexp_replace(lowered, r"[^a-z0-9\s]+", "|"),
            stop_re,
            "|",
        ),
        r"\|",
    )
    phrases = (
        df.select(F.explode(segs).alias("__seg"))
        .select(
            F.filter(
                F.split(F.col("__seg"), r"\s+"), lambda t: t != ""
            ).alias("__ws")
        )
        .filter(F.size("__ws") >= 1)
    )
    return phrases.select(
        F.explode("__ws").alias("word"),
        F.size("__ws").cast("long").alias("__plen"),
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    stopwords: "Sequence[str] | None" = None,
    min_freq: int = 1,
) -> DataFrame:
    """RAKE keyword statistics (Rose et al. 2010) over a corpus —
    the classic unsupervised keyword extractor: candidate phrases
    are maximal runs of non-stopword words (stopwords and
    punctuation are the phrase delimiters), each member word
    accumulates freq += 1 and degree += phrase length, and the
    keyword score is deg/freq (words that live in long multi-word
    phrases outrank words that appear alone).

    ENGINE-EXACT: freq and deg are exact integer aggregates of a
    deterministic tokenization (lowercase -> punctuation runs and
    whole-word stopwords replaced by a delimiter -> split); score is
    ONE IEEE division of two exact longs. The stopword alternation
    is anchored with \\b on both sides, so alternative order cannot
    change a match (RE2 and Java agree; no lookarounds — RE2 has
    none). Returns one row per word with freq >= min_freq:
    (word, freq, deg, score).

    Scale: pure JVM expressions to the explode, then ONE word-keyed
    aggregation — the `token_stats` shape; no shuffle before the
    final groupBy, no Python anywhere.
    """
    if min_freq < 1:
        raise ValueError("rake_keywords: min_freq must be >= 1")
    words = _rake_words(df, text_col, stopwords)
    out = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("__plen").cast("long").alias("deg"),
    )
    if min_freq > 1:
        out = out.filter(F.col("freq") >= min_freq)
    return out.select(
        "word",
        "freq",
        "deg",
        (F.col("deg").cast("double") / F.col("freq").cast("double")).alias(
            "score"
        ),
    )


def skipgram_pairs(
    df: DataFrame,
    text_col: str = "text",
    window: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Skip-gram co-occurrence counts — the (center, context) pair
    table word2vec-style embedding training feeds on, and
    `pmi_bigrams`' windowed generalization: every ordered token pair
    (w_i, w_{i+d}) for d = 1..``window``, counted over the corpus,
    pairs rarer than ``min_count`` pruned.

    ZERO joins: each distance d is one JVM ``zip_with`` of the token
    array against its d-shifted self (the `pmi_bigrams`/
    `bigram_logprob` stream), the per-distance pair arrays are
    flattened and exploded once, and the counts are ONE map-side-
    combinable (w1, w2) aggregation. Exact integers end to end;
    slice lengths clamp at 0 via greatest(), so short documents
    contribute nothing rather than erroring.

    Returns (w1, w2, n). Scale: corpus-sized narrow projection in
    whole-stage codegen + one pair-keyed shuffle; output is
    vocabulary-pair-sized, never corpus-sized, and min_count prunes
    the long tail at the aggregation (partial aggregates cap it
    map-side first)."""
    if window < 1:
        raise ValueError("skipgram_pairs: window must be >= 1")
    if min_count < 1:
        raise ValueError("skipgram_pairs: min_count must be >= 1")
    base = _spread(
        df.select(tokens(F.col(text_col)).alias("__a")).filter(
            F.size("__a") >= 2
        )
    )
    per_d = [
        F.expr(
            f"zip_with(slice(__a, 1, greatest(size(__a) - {d}, 0)),"
            f" slice(__a, 1 + {d}, greatest(size(__a) - {d}, 0)),"
            " (x, y) -> struct(x AS w1, y AS w2))"
        )
        for d in range(1, window + 1)
    ]
    return (
        base.select(
            F.explode(F.flatten(F.array(*per_d))).alias("__p")
        )
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .filter(F.col("n") >= min_count)
    )


# Gopher's stop-word presence rule checks these eight words
# (Rae et al. 2021, public); two distinct hits pass.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public
    — the repetition/format half lives in `repetition_stats`): per
    document the six classic signals and the combined verdict,

    - n_words, mean_word_len           (3 <= mean <= 10)
    - symbol_ratio  ('#' + '...')/words  (< 0.1)
    - bullet_ratio  (bullet-led lines)   (< 0.9)
    - n_stop_hits   (distinct hits among the eight Gopher stop
                     words; >= 2)
    - alpha_frac    (words containing a letter; > 0.8)

    Engine-portable by construction: every count is an exact
    integer from replace/split/length arithmetic (occurrences of a
    literal = length delta / pattern length — both engines scan
    left-to-right non-overlapping), each ratio is ONE IEEE division,
    and the verdict is SQL three-valued boolean logic (an empty doc
    fails the word bound FALSE, so `passes` is never NULL). Tokens
    share the corpus `tokens()` spelling.

    Returns (id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
    n_stop_hits, alpha_frac, passes). Scale: stateless row
    expressions in whole-stage codegen — zero shuffles, zero joins;
    filters on `passes` push into the scan stage."""
    txt = F.col(text_col)
    toks = tokens(txt)
    n_words = F.size(toks).cast("long")
    # Σ token lengths == non-whitespace length (tokens are the \s+
    # split, so every non-ws char is in exactly one token)
    char_len = F.length(F.regexp_replace(txt, r"\s+", "")).cast("long")
    n_hash = (
        F.length(txt) - F.length(F.replace(txt, F.lit("#")))
    ).cast("long")
    n_ellipsis = (
        (F.length(txt) - F.length(F.replace(txt, F.lit("...")))) / 3
    ).cast("long")
    lines = F.split(txt, r"\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.substring(F.ltrim(ln), 1, 1).isin("-", "*", "•"),
        )
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("long")
    n_stop = sum(
        F.array_contains(toks, w).cast("long") for w in GOPHER_STOPWORDS
    ).cast("long")
    dbl = lambda c: c.cast("double")  # noqa: E731
    mean_wl = F.when(n_words > 0, dbl(char_len) / dbl(n_words))
    sym = F.when(n_words > 0, dbl(n_hash + n_ellipsis) / dbl(n_words))
    bul = F.when(n_lines > 0, dbl(n_bullet) / dbl(n_lines))
    alp = F.when(n_words > 0, dbl(n_alpha) / dbl(n_words))
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        bul.alias("bullet_ratio"),
        n_stop.alias("n_stop_hits"),
        alp.alias("alpha_frac"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("bullet_ratio") < 0.9)
        & (F.col("n_stop_hits") >= 2)
        & (F.col("alpha_frac") > 0.8)
    )
    return out.withColumn("passes", F.coalesce(passes, F.lit(False)))


def dsir_weights(
    df: DataFrame,
    target_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hex: int = 2,
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR hashed importance weights (round-16 pre-build; Xie et
    al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023) — the principled replacement for
    binary quality filters: score every pool document by how much
    more likely its hashed-feature profile is under a TARGET
    distribution (a trusted high-quality sample, marked by the
    boolean ``target_col``) than under the raw pool, then resample
    ∝ exp(weight). This operator computes the per-document log
    importance weight; selection composes with the existing
    deterministic samplers (`weighted_sample`'s Gumbel-key
    convention).

    Features are the `feature_hash` trick verbatim: token → md5
    prefix bucket (B = 16^n_hex buckets — the paper uses hashed
    n-grams; this is the unigram rung, the `unigram_logprob` ladder
    convention). Bucket models are add-α smoothed:

    ``p_t[b] = (c_t[b] + α)/(N_t + α·B)`` (target), same for the
    raw pool, and ``log_weight(doc) = Σ_b cnt_doc[b]·(ln p_t[b] −
    ln p_r[b])``.

    Plan: ONE token-sized shuffle total — the explode aggregates
    straight to (doc, target, bucket) partial counts, and BOTH the
    B-row bucket model and the per-doc weights derive from that
    table (its exchange plans once and is reused); the model's own
    aggregations move only doc×bucket partials, the totals fold in
    by a broadcast cross join, the model broadcasts back (B rows,
    KB-sized), and one per-doc aggregation closes the plan. Nothing
    data-sized reaches the driver; no vocabulary pass. Documents
    with a NULL ``target_col`` flag belong to NEITHER corpus and
    drop entirely (modeled in no distribution, scored never — the
    `triple_diff` no-cell convention; review r15). Empty/zero-token documents carry no feature
    rows and drop out (mirrored by the oracle). Target documents
    are scored too (their weights concentrate near the target
    self-ratio — the calibration readout); callers filter.

    Returns one row per nonempty document: (id, n_tokens,
    log_weight).
    """
    if len({target_col, id_col, text_col}) != 3:
        raise ValueError("dsir_weights: target/id/text columns must differ")
    B = 16 ** int(n_hex)
    al = F.lit(float(alpha))
    # a NULL target flag belongs to NEITHER corpus (the triple_diff
    # no-cell convention): keeping such rows would score them
    # against models their own tokens never trained — review r15
    b = df.filter(F.col(target_col).isNotNull()).select(
        F.col(id_col),
        F.col(target_col).cast("boolean").alias("__t"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).select(
        id_col, "__t",
        F.substring(F.md5(F.col("__tok")), 1, n_hex).alias("__b"),
    )
    # ONE token-sized shuffle: the (doc, bucket) partial counts.
    # Both the B-row model and the per-doc weights derive from this
    # table, so its exchange is planned once and reused
    # (ReusedExchange) — the raw token stream is never shuffled a
    # second time.
    per_doc = b.groupBy(id_col, "__t", "__b").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    model = per_doc.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), F.col("__cnt")).otherwise(0))
        .alias("__ct"),
        F.sum(F.when(~F.col("__t"), F.col("__cnt")).otherwise(0))
        .alias("__cr"),
    )
    tot = model.agg(
        F.sum("__ct").alias("__nt"), F.sum("__cr").alias("__nr")
    )
    lw = (
        F.log((F.col("__ct") + al) / (F.col("__nt") + al * F.lit(B)))
        - F.log((F.col("__cr") + al) / (F.col("__nr") + al * F.lit(B)))
    )
    scored_model = model.crossJoin(F.broadcast(tot)).select(
        "__b", lw.alias("__lw")
    )
    return (
        per_doc.join(F.broadcast(scored_model), on="__b")
        .groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("__cnt") * F.col("__lw")).alias("log_weight"),
        )
    )
