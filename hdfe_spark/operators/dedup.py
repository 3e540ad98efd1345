"""Deduplication operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard verification, and
embedding-cosine near-dup — over the ``documents`` / ``embeddings``
fixture tables.

Scale design:

- **Exact dedup** is a hash-groupBy on a 64/256-bit digest of the
  text, never on the text itself — the shuffle moves 8-32 bytes per
  row, not documents.
- **MinHash LSH** follows the standard banding construction
  (Broder 1997; Leskovec et al., "Mining of Massive Datasets" ch.3):
  char-shingles → per-row signature of ``num_hashes`` min-hashes →
  split into ``bands`` band digests (one vectorized Arrow pass — see
  functions/hashing.py for why this beats nested higher-order JVM
  expressions) → explode one row per band → shuffle on (band,
  band-digest) → candidate pairs only within buckets. The only
  all-to-all step keys on the band digest, so cost scales with
  collision count, not n².
- **SimHash** (Charikar 2002): 64-bit signature via bit-vote over
  token hashes; near-dup = identical signature, or banded 16-bit
  chunks for Hamming ≤ 3-style candidates.
- **n-gram Jaccard** is the exact verifier applied to candidate pairs:
  sorted int64 char-shingle hash sets compared by the Arrow
  ``make_jaccard_udf`` (``np.intersect1d``), shared by
  ``ngram_jaccard_pairs`` and ``minhash_dedup`` (``_jaccard_verify``).
- Every candidate pair built from a posting table (MinHash band
  buckets, containment shingles) comes from the one pair kernel
  ``setjoin._posting_pairs``.
- **Embedding near-dup**: normalized vectors, random-hyperplane LSH
  buckets, exact cosine verify within bucket (see similarity.py for
  the shared vector helpers).
"""

from __future__ import annotations

import threading
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdfe_spark.operators.setjoin import _check_unit_interval, _posting_pairs


# Query-scoped persists (optimization r16, ADVICE r15): Spark has no
# "persist for the duration of this query" — a signature table cached
# so both sides of a self-join read ONE Arrow pass stays registered in
# the CacheManager until unpersisted, so repeated operator calls in a
# long session would otherwise accumulate executor-cached tables.
# Handles registered here are unpersisted FIFO once more than
# _scoped_persist_cap() are outstanding (unpersisting never changes
# values — a still-referenced lineage just recomputes, which only
# degrades back to the unfused plan), and callers can force cleanup
# with :func:`release_query_caches`. The cap (default 8, env
# ``HDFE_SCOPED_PERSIST_CAP``) is sized above the number of fused
# operators a single composed pipeline registers before its first
# action (review r16: eviction before the lazy consumer executes
# would silently revert the fusion), while still bounding a long
# session's cache growth. One lock guards the registry: a release on
# one thread must not empty it under another thread's eviction loop.
_SCOPED_PERSISTS: list = []
_SCOPED_LOCK = threading.Lock()


def _scoped_persist_cap() -> int:
    import os

    return int(os.environ.get("HDFE_SCOPED_PERSIST_CAP", "8"))


def _query_scoped_persist(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    cap = _scoped_persist_cap()
    with _SCOPED_LOCK:
        _SCOPED_PERSISTS.append(out)
        n_evict = max(0, len(_SCOPED_PERSISTS) - cap)
        evicted = _SCOPED_PERSISTS[:n_evict]
        del _SCOPED_PERSISTS[:n_evict]
    _unpersist_all(evicted)
    return out


def _unpersist_all(handles: list) -> None:
    for old in handles:
        try:
            old.unpersist(False)
        except Exception:
            pass


def release_query_caches() -> None:
    """Unpersist every outstanding query-scoped signature cache."""
    with _SCOPED_LOCK:
        handles = _SCOPED_PERSISTS[::-1]
        _SCOPED_PERSISTS.clear()
    _unpersist_all(handles)


# ------------------------------------------------------------- exact


def exact_dedup(
    df: DataFrame,
    cols: Sequence[str] | str,
    id_col: str | None = None,
) -> DataFrame:
    """Exact dedup on ``cols``. With ``id_col``, keeps the row with
    the smallest id per duplicate group (deterministic, unlike
    ``dropDuplicates``); otherwise an arbitrary representative.
    """
    cols = [cols] if isinstance(cols, str) else list(cols)
    if id_col is None:
        return df.dropDuplicates(cols)
    w = Window.partitionBy(*cols).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup_by_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact content dedup via content digest: group on
    ``sha2(text)`` so the shuffle carries 32-byte keys instead of
    documents; keep the min-id representative per digest."""
    hashed = df.withColumn("__h", F.sha2(F.col(text_col), 256))
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


# ----------------------------------------------------------- minhash


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_k: int = 5
) -> Column:
    """MinHash signature as ``array<bigint>`` of length ``num_hashes``
    via the vectorized Arrow kernel (see functions/hashing.py for why
    this is a Pandas UDF and not nested higher-order JVM expressions:
    the nested form re-evaluates the shingle array per hash fn —
    quadratic expression blowup)."""
    from hdfe_spark.functions.hashing import make_minhash_udf

    return make_minhash_udf(num_hashes=num_hashes, shingle_k=shingle_k)(text)


def _check_bands(op: str, num_hashes: int, bands: int) -> None:
    """Driver-side guard: the signature splits into ``bands`` equal bands."""
    if bands < 1:
        raise ValueError(f"{op}: bands must be >= 1, got {bands!r}")
    if num_hashes < 1 or num_hashes % bands:
        raise ValueError(
            f"{op}: num_hashes must be a positive multiple of bands "
            f"({bands}), got {num_hashes!r}"
        )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """LSH candidate pairs ``(id_a < id_b, band_matches)``.

    One Arrow pass computes all band digests per doc; one shuffle on
    (band index, band hash); a self-join *within buckets only*.
    Oversized buckets (pathological collisions) are handled by AQE
    skew-join splitting. ``num_hashes`` must be a multiple of ``bands``.
    """
    from hdfe_spark.functions.hashing import make_minhash_bands_udf
    from hdfe_spark.session import py_stage_partitions

    _check_bands("minhash_candidate_pairs", num_hashes, bands)
    par = py_stage_partitions(df.sparkSession)
    band_udf = make_minhash_bands_udf(num_hashes, bands, shingle_k)
    banded = (
        df.select(id_col, text_col)
        .repartition(par, F.col(id_col))
        .select(
            F.col(id_col),
            F.posexplode(band_udf(F.col(text_col))).alias("band", "band_hash"),
        )
    )
    return _posting_pairs(banded, id_col, ["band", "band_hash"]).withColumnRenamed(
        "n_shared", "band_matches"
    )


def _jaccard_verify(pairs: DataFrame, sets: DataFrame, id_col: str) -> DataFrame:
    """``pairs`` with an exact ``jaccard`` column: both sides' sorted
    int64 shingle sets (``sets``: ``id_col``, ``__sh``) joined on
    ``id_a`` / ``id_b`` and compared by the Arrow Jaccard kernel."""
    from hdfe_spark.functions.hashing import make_jaccard_udf

    jac = make_jaccard_udf()
    return (
        pairs.join(sets.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sh_a")), on="id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sh_b")), on="id_b")
        .withColumn("jaccard", jac(F.col("__sh_a"), F.col("__sh_b")))
        .drop("__sh_a", "__sh_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs.

    Joins each side's distinct shingle set onto the (small) candidate
    pair list — documents are only materialized for candidates, never
    all-pairs.
    """
    # Shingle sets as int64 hash arrays via the vectorized Arrow
    # kernel (one rolling-hash pass per doc; Jaccard value identical
    # to string sets up to 2^-64 collisions). Repartition first: the
    # fixture tables are single parquet files → a single task would
    # otherwise serialize all per-doc hashing on one core.
    from hdfe_spark.functions.hashing import make_kgram_set_udf
    from hdfe_spark.session import py_stage_partitions

    par = py_stage_partitions(df.sparkSession)
    kset = make_kgram_set_udf(shingle_k)
    sets = (
        df.select(id_col, text_col)
        .repartition(par, F.col(id_col))
        .select(F.col(id_col), kset(F.col(text_col)).alias("__sh"))
    )
    # Fused signature table (optimization r16, guide §1.2/§4 — the
    # minhash_dedup r15 rewrite applied here): without the persist the
    # two verify joins each evaluate their own copy of the Arrow
    # shingle pass (the UDF sits above the reusable exchange), so the
    # corpus is hashed twice per call. One query-scoped persisted pass
    # feeds both sides; hashes are identical, so every jaccard is
    # bit-identical.
    return _jaccard_verify(pairs, _query_scoped_persist(sets), id_col)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 128,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-dedup: drop every doc that has a verified near-duplicate
    with a smaller id. (Single-link clustering approximated by the
    min-id rule — one pass, no iterative connected components; good
    enough for dedup where any representative may survive.)

    Plan (optimization r15, guide §1.2/§4): composing
    :func:`minhash_candidate_pairs` with :func:`ngram_jaccard_pairs`
    Arrow-hashes the corpus FOUR times (band digests for each self-join
    side, shingle sets for each verify side — the UDFs sit above their
    exchanges, so exchange reuse cannot deduplicate them) and scans the
    text five times. This plan computes one compact signature table
    (id, band digests, shingle set) in a single Arrow pass, persists it
    for the duration of the query, and runs the LSH self-join +
    exact-Jaccard verify off it — identical band digests and shingle
    hashes, so the surviving set is bit-identical to the composition.
    ``num_hashes`` must be a multiple of ``bands``."""
    from hdfe_spark.functions.hashing import make_minhash_bands_and_set_udf
    from hdfe_spark.session import py_stage_partitions

    _check_bands("minhash_dedup", num_hashes, bands)
    par = py_stage_partitions(df.sparkSession)
    fused = make_minhash_bands_and_set_udf(num_hashes, bands, shingle_k)
    sig = _query_scoped_persist(
        df.select(id_col, text_col)
        .repartition(par, F.col(id_col))
        .select(F.col(id_col), fused(F.col(text_col)).alias("__s"))
        .select(
            F.col(id_col),
            F.col("__s.bands").alias("__bands"),
            F.col("__s.shingles").alias("__sh"),
        )
    )
    banded = sig.select(
        F.col(id_col),
        F.posexplode("__bands").alias("band", "band_hash"),
    )
    cand = _posting_pairs(banded, id_col, ["band", "band_hash"]).select("id_a", "id_b")
    losers = (
        _jaccard_verify(cand, sig, id_col)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


# ----------------------------------------------------------- simhash


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int = 10,
    out_col: str = "clean_text",
) -> DataFrame:
    """Cross-document LINE-level dedup (the Dolma/CCNet boilerplate
    pass): drop every line that appears in more than ``max_docs``
    distinct documents (headers, footers, nav text, license blobs),
    keep each document's remaining lines in order.

    Plan: posexplode lines → one corpus-wide grouped line-frequency →
    shuffle join back on the line (both sides corpus-sized — never a
    broadcast) → per-doc ordered reassembly via
    ``array_sort(collect_list(struct(pos, line)))``. Cost class: two
    shuffles over the LINE table, linear in corpus size; the frequency
    table is the classic skew point (empty/boilerplate lines have huge
    groups) but it only carries (line, count) rows, and the join
    output is bounded by the input line count.

    Documents whose every line is boilerplate come back with
    ``out_col = ''`` (kept, emptied — the caller decides whether to
    drop them; silently losing rows would corrupt panel joins).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    freq = lines.groupBy("__line").agg(
        F.countDistinct(id_col).alias("__df")
    )
    kept = (
        lines.join(freq, on="__line")
        .filter(F.col("__df") <= max_docs)
        .select(id_col, "__pos", "__line")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(__pos, __line))), s -> s.__line), '\n')"
        ).alias(out_col)
    )
    return (
        df.join(rebuilt, on=id_col, how="left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
    )


def simhash(text: Column) -> Column:
    """Charikar SimHash (64-bit) over whitespace tokens via the
    vectorized Arrow kernel (functions/hashing.py). Returns bigint."""
    from hdfe_spark.functions.hashing import make_simhash_udf

    return make_simhash_udf()(text)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-SimHash dedup: identical 64-bit signatures collapse to
    the min-id representative. (Near-Hamming variants: band the
    signature into 16-bit chunks and use chunk-equality buckets.)"""
    from hdfe_spark.session import py_stage_partitions

    par = py_stage_partitions(df.sparkSession)
    sig = df.repartition(par, F.col(id_col)).withColumn(
        "__sim", simhash(F.col(text_col))
    )
    w = Window.partitionBy("__sim").orderBy(F.col(id_col))
    return (
        sig.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__sim")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs at SimHash Hamming distance ≤
    ``max_hamming`` via pigeonhole banding (Manku et al., WWW'07):
    split the 64-bit signature into ``max_hamming + 1`` chunks — any
    pair within the distance budget must agree exactly on at least one
    chunk — bucket-join on (chunk_idx, chunk_value) equality only,
    then verify candidates with an exact JVM ``bit_count(a XOR b)``.

    This is EXACT (pigeonhole, not probabilistic): recall is 100% by
    construction, unlike hyperplane/MinHash LSH. Cost scales with
    chunk-bucket collisions, never O(n²); chunks are 64/(d+1) bits so
    buckets stay tiny unless the corpus is pathologically self-similar
    (then: raise chunk count via a larger ``max_hamming`` budget and
    filter after, or salt the join — same toolbox as the MinHash path).
    """
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    sig = df.select(F.col(id_col), simhash(F.col(text_col)).alias("__sim"))
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("__sim"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(n_chunks)
        ]
    )
    banded = sig.select(
        F.col(id_col),
        F.col("__sim"),
        F.posexplode(chunks).alias("__chunk_idx", "__chunk_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.__chunk_idx") == F.col("b.__chunk_idx"),
                F.col("a.__chunk_val") == F.col("b.__chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand


# ------------------------------------------------- embedding near-dup


def _auto_planes(threshold: float, n_tables: int, target_recall: float) -> int:
    """Hyperplane count per LSH table so that multi-table recall at
    cosine == ``threshold`` reaches ``target_recall``.

    Hyperplane LSH collision probability per plane is
    ``p = 1 − θ/π`` (Charikar 2002) with ``θ = arccos(threshold)``;
    a table of ``b`` planes collides with prob ``p^b`` and ``T``
    independent tables recall ``1 − (1 − p^b)^T``. We take the largest
    ``b`` (most selective buckets) that still meets the target.
    """
    import math

    theta = math.acos(max(min(threshold, 1.0), -1.0))
    p_plane = 1.0 - theta / math.pi
    if p_plane <= 0.0:
        return 1
    need = 1.0 - (1.0 - target_recall) ** (1.0 / n_tables)
    b = int(math.log(need) / math.log(p_plane))
    return max(b, 1)


def _pair_emitter(vec_col: str, id_col: str, threshold: float):
    """Per-group GEMM pair emitter shared by the LSH-bucket and
    SemDeDup-cluster verifiers: pairwise cosines of one group via
    row-BLOCKED matrix products, only pairs ≥ threshold leave Python
    — bytes through Arrow stay linear in group size, never quadratic.

    Blocked, not one ``M @ M.T``: a skewed clustering can hand this
    one 50k-vector group, where the full cosine matrix is 50k² × 8 B
    = 20 GB (plus 10 GB of triu index arrays) in a single Python
    worker — the round-6 stress reproduced exactly that blow-up.
    Each block computes ``(B, n)`` cosines (B sized to ~160 MB),
    masks the upper triangle arithmetically, and appends survivors;
    peak memory is O(B·n) while the emitted pairs are bit-identical
    to the unblocked form (same float64 dot products)."""
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def emit_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf[vec_col]])
        M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        block = max(1, 20_000_000 // max(n, 1))  # ~160 MB of float64
        cols = np.arange(n)[None, :]
        out_a, out_b, out_c = [], [], []
        for s in range(0, n, block):
            e = min(s + block, n)
            C = M[s:e] @ M.T  # (e-s, n)
            keep = (C >= thr) & (cols > np.arange(s, e)[:, None])
            ii, jj = np.nonzero(keep)
            if len(ii):
                out_a.append(ids[ii + s])
                out_b.append(ids[jj])
                out_c.append(C[ii, jj])
        if not out_a:
            return pd.DataFrame(
                {"id_a": np.array([], dtype=np.int64),
                 "id_b": np.array([], dtype=np.int64),
                 "cosine": np.array([], dtype=np.float64)}
            )
        ia = np.concatenate(out_a)
        ib = np.concatenate(out_b)
        cos = np.concatenate(out_c)
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos})

    return emit_pairs


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int | None = None,
    seed: int = 42,
    n_tables: int = 8,
    target_recall: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold`` via
    **multi-table** random-hyperplane LSH (banded, like the MinHash
    path above): ``n_tables`` independent sign-bucket tables, the
    same-bucket self-join of each unioned and distinct'd into one
    candidate set, then one exact-cosine verification pass over
    candidates only.

    ``n_planes`` defaults to the largest per-table width that still
    gives ``target_recall`` at the threshold (see ``_auto_planes``) —
    more planes ⇒ 2^planes smaller buckets ⇒ quadratically fewer
    candidate pairs, so the self-join cost is bounded per table and
    never O(n²) globally. High thresholds get deep tables (e.g. 0.9 →
    7 planes); low thresholds degenerate toward brute force — inherent
    to hyperplane LSH, use ``embedding_neardup_exact`` below ~0.5.
    """
    import numpy as np

    from hdfe_spark.operators.similarity import (
        _planes,
        _vec_dim,
        make_multi_bucket_udf,
    )
    from hdfe_spark.session import py_stage_partitions

    if n_planes is None:
        n_planes = _auto_planes(threshold, n_tables, target_recall)
    dim = _vec_dim(df, vec_col)
    planes = np.stack(
        [_planes(n_planes, dim, seed + 7919 * t) for t in range(n_tables)]
    )
    buckets = make_multi_bucket_udf(planes)

    # ONE Arrow pass computes every table's bucket; posexplode to
    # (table, bucket) rows carrying the vector; then FAISS-style
    # within-bucket verification: ``applyInPandas`` over (tbl, bucket)
    # groups computes ALL pairwise cosines of a bucket in one GEMM and
    # emits only pairs ≥ threshold — no per-pair join, no per-pair
    # Arrow transfer (bytes through Python are linear in n·n_tables,
    # never quadratic). The same pair surviving in several tables is
    # collapsed by a final level-sized groupBy. Skew note: one
    # pathological bucket = one big GEMM task; bound it by raising
    # ``n_planes`` (bucket sizes shrink 2× per plane).
    #
    # The pair-join alternative (shuffle only (id, tbl, bucket), dedupe
    # candidate pairs, then attach both vectors and verify per pair)
    # was measured 3× slower at sf0.1 in optimization r15 (1.16 s vs
    # 3.66 s): every candidate pair row carries two full vectors, so a
    # vector in k pairs moves k times, while this plan moves each
    # vector exactly n_tables times and verifies a bucket in one GEMM.
    par = py_stage_partitions(df.sparkSession)
    banded = df.select(F.col(id_col), F.col(vec_col)).repartition(
        par, F.col(id_col)
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )

    pairs = banded.groupBy("tbl", "bucket").applyInPandas(
        _pair_emitter(vec_col, id_col, threshold),
        schema="id_a long, id_b long, cosine double",
    )
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def embedding_neardup_exact(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: full id<id self-join +
    one vectorized cosine pass. O(n²) pairs — the correctness baseline
    LSH recall is measured against, and the right plan when the
    threshold is too low for hyperplane LSH to prune (see
    ``embedding_neardup_pairs``). At 100 TB use the LSH variant."""
    from hdfe_spark.operators.similarity import make_pair_cosine_udf

    v = df.select(id_col, vec_col)
    a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    pcos = make_pair_cosine_udf()
    return (
        a.join(b, on=[F.col("id_a") < F.col("id_b")])
        .select("id_a", "id_b", pcos(F.col("__va"), F.col("__vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep each key's LATEST row under ``order_cols`` (descending,
    with the caller giving a unique tiebreak) — the version-resolution
    dedup every mutable-source ingest runs ("newest crawl of this
    URL", "last event per user"). One hash-partitioned window keyed
    by ``key_cols`` — parallel across keys, no global sort; skewed
    hot keys are bounded by per-key cardinality, not corpus size."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def semdedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    threshold: float = 0.4,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540,
    public): semantic near-duplicates = pairs of embeddings above
    ``threshold`` cosine that share a KMeans cluster. The cluster
    assignment reuses ``similarity.ivf_index`` (the IVF coarse
    quantizer IS SemDeDup's clustering step); within each cluster one
    GEMM computes every pairwise cosine and only survivors leave
    Python (same ``_pair_emitter`` as the LSH verifier).

    Approximate by design: a pair split across clusters is missed —
    that is the trade that makes it O(Σ cluster²) instead of O(n²),
    and the ``semdedup_recall`` driver certificate pins the measured
    recall against the exact pair set. Scale: candidate work is
    bounded by the largest cluster; raise ``n_centroids`` to shrink
    clusters (SemDeDup used 110k clusters for LAION)."""
    from hdfe_spark.operators.similarity import ivf_index

    assigned, _ = ivf_index(
        df.select(id_col, vec_col), vec_col=vec_col, id_col=id_col,
        n_centroids=n_centroids, seed=seed,
    )
    return (
        assigned.groupBy("__centroid")
        .applyInPandas(
            _pair_emitter(vec_col, id_col, threshold),
            schema="id_a long, id_b long, cosine double",
        )
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = 16,
    threshold: float = 0.4,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup: drop all but one representative (min id) of every
    within-cluster semantic-duplicate component. Composition of
    ``semdedup_pairs`` + the exact single-link ``dedup_by_components``
    — the embedding-space sibling of ``minhash_dedup``."""
    from hdfe_spark.operators.graph import dedup_by_components

    pairs = semdedup_pairs(
        df, vec_col=vec_col, id_col=id_col,
        n_centroids=n_centroids, threshold=threshold, seed=seed,
    )
    return dedup_by_components(df, pairs, id_col=id_col)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Directed shingle CONTAINMENT C(A->B) = |S_A ∩ S_B| / |S_A| for
    every ordered pair above ``threshold`` — the asymmetric
    complement of Jaccard dedup: a short document quoted wholesale
    inside a long one has high containment but low Jaccard, so
    Jaccard-only pipelines keep the embedded duplicate
    (Broder's containment, the ExactSubstr motivation).

    Exact and output-complete above any threshold > 0: a qualifying
    pair shares >= 1 shingle, so the shingle-keyed equi-join
    generates every candidate (the hash match against a brute-force
    all-pairs oracle certifies exactly this). One explode + one
    self-equi-join on the shingle + one grouped count; the join key
    skews on stop-shingles at corpus scale — AQE skew splitting
    handles the hot keys, and the shuffle moves (doc, shingle)
    pairs, never text. Each unordered pair is counted once
    (``_posting_pairs``) and then emitted in both directions.
    ``threshold`` must be in (0, 1].
    """
    from hdfe_spark.operators.text import shingles

    _check_unit_interval("containment_pairs", "threshold", threshold)

    # Hoist lower() behind a projection boundary (optimization r16,
    # guide §1.2): the char-shingle transform lambda substr's its text
    # argument per element, and a lambda re-evaluates any captured
    # outer EXPRESSION per element — the inline form re-lowercased the
    # FULL text once per shingle, O(len^2) per document. substr on the
    # hoisted attribute is O(k). The empty-set filter runs on the
    # LOWERED text, below the shingle projection, as the equivalent
    # length(lower(text)) >= k: shingles() yields [] iff its input is
    # shorter than k, and lower() can change the length ('İ' lowers
    # to two code points), so the raw length would drop documents
    # whose lowered text has k or more characters. A size(__s) > 0
    # post-filter would instead get predicate-pushed below the hoist
    # with the full inline expression substituted back in, re-paying
    # the O(len^2) pass per row.
    low = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__low")
    ).filter(F.length("__low") >= shingle_k)
    sh = low.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col("__low"), shingle_k)).alias("__s"),
    )
    sizes = sh.select(F.col(id_col), F.size("__s").alias("__size"))
    # explode_outer, not explode: InferFiltersFromGenerate adds a
    # size(__s) > 0 filter below a plain explode, and predicate
    # pushdown substitutes the FULL inline shingle expression back
    # into it below the hoist projection — re-paying the O(len^2)
    # pass per row. explode_outer infers no filter; the pre-filter
    # above guarantees __s is non-empty, and the isNotNull guard on
    # the generator OUTPUT (which cannot push below the generator)
    # drops the NULL rows explode_outer would emit if that invariant
    # ever broke — exactly the rows explode never emits.
    ex = sh.select(F.col(id_col), F.explode_outer("__s").alias("__g")).filter(
        F.col("__g").isNotNull()
    )
    once = _posting_pairs(ex, id_col, ["__g"])
    common = once.unionByName(
        once.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "n_shared")
    ).withColumnRenamed("n_shared", "n_common")
    out = common.join(
        sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed(
            "__size", "size_a"
        ),
        "id_a",
    )
    c = F.col("n_common") / F.col("size_a")
    return out.filter(c >= F.lit(float(threshold))).select(
        "id_a", "id_b", "n_common",
        F.col("size_a").cast("long").alias("size_a"),
        c.alias("containment"),
    )


def select_representatives(
    df: DataFrame,
    cluster_col: str,
    order_by: "list[Column | str]",
    keep_unclustered: bool = True,
) -> DataFrame:
    """The keep-policy step every dedup pipeline ends with: given
    cluster assignments (from exact-hash groups, MinHash connected
    components, or SemDeDup clusters), keep exactly ONE
    representative row per cluster — the best one under
    ``order_by`` (e.g. quality desc, doc_id asc; make the order
    TOTAL or the choice is nondeterministic).

    Rows with a NULL ``cluster_col`` are singletons: kept verbatim
    when ``keep_unclustered`` (the common case — only near-dup
    clusters were materialized, everything else survives).

    Scale: one hash-partitioned window keyed on the cluster
    (parallel across clusters, never global), plus a cheap NULL
    split — no join, no collect. The reference has no dedup surface
    at all; this completes exact_dedup/minhash/semdedup into a
    usable keep-one pipeline."""
    from pyspark.sql import Window as W

    clustered = df.filter(F.col(cluster_col).isNotNull())
    w = W.partitionBy(cluster_col).orderBy(*order_by)
    reps = (
        clustered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if keep_unclustered:
        reps = reps.unionByName(df.filter(F.col(cluster_col).isNull()))
    return reps


def url_normalize(url: Column, strip_www: bool = False) -> Column:
    """Canonicalize a URL for web-corpus dedup — the standard crawl
    normalization, as one deterministic JVM expression tree (zero
    Python, zero shuffle; every step has an exact DuckDB mirror:
    regexp_extract / list_filter / list_sort / array_to_string).

    Steps, in order, on the trimmed input:

    1. scheme and host lowercased (path/query stay case-sensitive
       per RFC 3986); optionally a leading ``www.`` is stripped from
       the host (``strip_www`` — off by default, it conflates
       genuinely distinct hosts);
    2. default ports dropped (``:80`` for http, ``:443`` for https;
       any other port is kept);
    3. the fragment (``#...``) removed — it never reaches a server;
    4. tracking query parameters removed (``utm_*``, ``gclid``,
       ``fbclid``), the remaining ``k=v`` pairs sorted bytewise and
       re-joined with ``&`` (param ORDER is transport noise; an
       empty remainder drops the ``?`` entirely);
    5. an empty path becomes ``/`` and a single trailing slash is
       stripped from any longer path (``/a/`` == ``/a``; the root
       stays ``/``).

    The authority is parsed per RFC 3986: an optional
    ``userinfo@`` prefix is preserved VERBATIM (case-sensitive —
    distinct credentials are distinct resources, and lowercasing a
    password-bearing URL would corrupt it), and a bracketed IPv6
    literal ``[...]`` is taken whole (a ':' inside the brackets is
    never mistaken for a port separator).

    Strings with no ``scheme://`` prefix are NOT URLs and pass
    through trimmed-but-unchanged (normalizing a relative path or a
    bare word would corrupt it); NULL stays NULL.
    """
    t = F.trim(url)
    scheme_re = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"
    scheme = F.lower(F.regexp_extract(t, scheme_re, 1))
    after = F.regexp_replace(t, scheme_re, "")
    authority = F.regexp_extract(after, r"^([^/?#]*)", 1)
    # userinfo = everything through the LAST '@' (host can never
    # contain '@'); kept verbatim, '' when absent
    userinfo = F.regexp_extract(authority, r"^(.*@)", 1)
    hostport = F.regexp_replace(authority, r"^.*@", "")
    bracket = hostport.startswith("[")
    host = F.lower(
        F.when(
            bracket, F.regexp_extract(hostport, r"^(\[[^\]]*\])", 1)
        ).otherwise(F.regexp_extract(hostport, r"^([^:]*)", 1))
    )
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = F.when(
        bracket, F.regexp_extract(hostport, r"^\[[^\]]*\]:([0-9]+)$", 1)
    ).otherwise(F.regexp_extract(hostport, r"^[^:]*:([0-9]+)$", 1))
    default_port = (
        (scheme == F.lit("http")) & (port == F.lit("80"))
    ) | ((scheme == F.lit("https")) & (port == F.lit("443")))
    portpart = F.when(
        (port == F.lit("")) | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_extract(after, r"^[^/?#]*([^?#]*)", 1)
    path = F.when(path == F.lit(""), F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", r"$1")
    )
    # query = text between the FIRST '?' and the fragment; extracting
    # from the fragment-stripped form, not t, so a '?' inside a
    # fragment ("http://h#frag?x") is never mistaken for a query
    query = F.regexp_extract(
        F.regexp_replace(t, r"#.*$", ""), r"\?(.*)$", 1
    )
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit(""))
        & ~p.rlike(r"^(utm_[^=]*|gclid|fbclid)(=|$)"),
    )
    qsorted = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        userinfo,
        host,
        portpart,
        path,
        F.when(qsorted == F.lit(""), F.lit("")).otherwise(
            F.concat(F.lit("?"), qsorted)
        ),
    )
    return F.when(scheme == F.lit(""), t).otherwise(canon)


def url_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    strip_www: bool = False,
) -> DataFrame:
    """Exact URL dedup over `url_normalize` canonical forms — the
    crawl-pipeline step between fetch and content dedup. Returns the
    full per-row assignment (the `er_cluster` shape, so downstream
    keep-policies stay free):

        (id, url, canonical_url, n_dups, is_rep)

    where rows sharing a canonical form are one group, ``n_dups`` is
    the group size, and ``is_rep`` marks the minimum id (feed the
    output to `select_representatives` keyed on canonical_url for a
    quality-ranked policy instead). NULL urls are kept verbatim as
    singletons (canonical_url NULL, n_dups 1, is_rep true) — the
    `select_representatives` keep-unclustered contract. NULL ids are
    excluded up front (the `er_cluster` contract: an unidentifiable
    row can neither group nor represent).

    Scale: normalization is expression-only and evaluated ONCE on
    the scan; the single shuffle keys on (canonical, NULL-singleton
    key) and both aggregates (count, min-id) ride ONE window
    partition pass — no join, no second exchange, no second scan
    (a split-and-union formulation would canonicalize twice), and
    NULL-url rows partition by their own id instead of piling into
    one hot NULL partition. At 100 TB, key on ``sha2(canonical,
    256)`` upstream if urls run long (the exact_dedup digest trick).
    """
    base = df.filter(F.col(id_col).isNotNull())
    canon = url_normalize(F.col(url_col), strip_www=strip_www)
    withc = base.select(
        F.col(id_col),
        F.col(url_col),
        canon.alias("canonical_url"),
        # NULL canonicals are singletons BY ID — a composite key
        # (canonical, id-when-null) can never collide with a real
        # group (non-null groups carry NULL here). canonical_url is
        # NULL exactly when the url is NULL, so the key derives from
        # the RAW column: re-referencing `canon` would evaluate its
        # lambda-bearing tree twice per row (param filtering uses
        # F.filter — excluded from subexpression elimination,
        # SPARK-35410, the measured 4x holt lesson)
        F.when(F.col(url_col).isNull(), F.col(id_col)).alias(
            "__nullkey"
        ),
    )
    w = Window.partitionBy("canonical_url", "__nullkey")
    return withc.select(
        id_col,
        url_col,
        "canonical_url",
        F.count(F.lit(1)).over(w).cast("long").alias("n_dups"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_rep"),
    )
