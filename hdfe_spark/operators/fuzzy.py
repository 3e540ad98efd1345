"""Blocked fuzzy matching: edit-distance near-duplicates without
all-pairs comparison.

Entity-resolution / near-dup stage for short keys (titles, names,
normalized prefixes): find pairs within Levenshtein distance
``max_distance``. The naive form is an O(n²) cross join; the standard
fix is *blocking* — only pairs sharing a cheap block key are compared.

Block key = (gram, length) — first/last **bigram** plus a length
band, not the round-4 single first/last character (whose ~26-70
blocks meant hot-block skew on a real corpus; widening was that
round's watch item). For ``max_distance=1`` the scheme stays EXACT by
pigeonhole, by cases on the shorter string's length m:

- **m ≥ 4** (gram regions disjoint): one edit either misses the first
  two characters — same first-bigram block — or hits them, leaving
  the suffix, in particular the last two characters, unchanged as a
  *substring value* (an insertion/deletion before them only shifts
  their position): same last-bigram block.
- **2 ≤ m < 4** (regions overlap, bigram proof fails — e.g. a
  middle-char edit in a 3-char string changes both bigrams): both
  strings are then ≤ 4 chars long (|len difference| ≤ 1) and BOTH
  also emit single first/last-char blocks, for which the original
  pigeonhole proof holds (it needs m ≥ 2: one edit misses the first
  char or the last char). Strings longer than 4 never emit char
  blocks, so the fallback population stays tiny.
- **m = 1** (no char-pigeonhole either: 'a' vs 'b' differ in every
  gram): the partner's length is ≤ 2, and every string of length
  ≤ ``max_distance``+1 additionally emits a gram-less length-band
  block ``GL{L+dl}``, so the pair collides on ``GL{longer_len}``.
  Only near-empty strings pay this (the GL block holds all length
  ≤ 2 strings — a constant-sized population for document prefixes).

Empty normalized prefixes (length 0) are excluded by contract — an
empty string is within distance 1 of EVERY single character, which is
noise, not a near-duplicate signal.

The length band rides inside the key: a string of length L emits each
gram under lengths ``L .. L+max_distance``, so two strings within
``max_distance`` in length always collide on the longer one's key
while strings of distant lengths never share a block. Result: block
population ≈ (same bigram) ∧ (length within 1) — hundreds of small
blocks instead of tens of hot ones; the brute-force-oracle driver
certificate (``fuzzy_pairs``) still proves exactness, and
``tests/test_fuzzy.py`` pins both recall and the skew drop.

Scale: block-keyed self-join (shuffle by (gram, len) key), codegen
``levenshtein`` verify, distinct on (id_a, id_b). For
``max_distance > 1`` the gram blocking is a recall heuristic (the
pigeonhole covers one edit); the length band remains exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _block_keys(max_distance: int):
    """Column: array of block keys for the normalized string ``__s``
    of length ``__len`` (see module docstring for the exactness
    argument). Exposed for the skew test."""
    first2 = F.substring("__s", 1, 2)
    last2 = F.col("__s").substr(F.col("__len") - 1, F.lit(2))
    first1 = F.substring("__s", 1, 1)
    last1 = F.col("__s").substr(F.col("__len"), F.lit(1))
    short = F.col("__len") <= 4
    tiny = F.col("__len") <= max_distance + 1
    keys = []
    for dl in range(max_distance + 1):
        lenk = (F.col("__len") + dl).cast("string")
        keys += [
            F.concat(F.lit("FB"), lenk, F.lit(":"), first2),
            F.concat(F.lit("LB"), lenk, F.lit(":"), last2),
            F.when(short, F.concat(F.lit("FC"), lenk, F.lit(":"), first1)),
            F.when(short, F.concat(F.lit("LC"), lenk, F.lit(":"), last1)),
            # gram-less length-band block: closes the m=1 pigeonhole
            # hole (module docstring) at the cost of one tiny block
            # per length <= max_distance+1.
            F.when(tiny, F.concat(F.lit("GL"), lenk)),
        ]
    return F.array_compact(F.array(*keys))


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 1,
    prefix_len: int = 16,
) -> DataFrame:
    """Distinct id pairs (id_a < id_b) whose normalized ``prefix_len``
    character prefixes are within ``max_distance`` Levenshtein edits.
    Exact for ``max_distance=1`` (see module docstring); for larger
    distances the gram blocking is a recall heuristic.

    Scale envelope: the candidate-join cost is sum of
    block-population² over (bigram, length) blocks, so it depends on
    the corpus's PREFIX BIGRAM DIVERSITY, not just row count. Natural
    text prefixes spread over thousands of case-folded bigrams; a
    low-alphabet corpus concentrates them — hex digests have only
    256 possible bigrams, which at 4M rows measured >1e10 candidate
    pairs (killed; SCALE.md, the `fuzzy.er_cluster` row of the
    round-10 second batch). For hash-like keys use `exact_dedup`
    (digest equality) instead — edit distance on uniform hashes is
    meaningless anyway."""
    norm = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        1,
        prefix_len,
    )
    keyed = df.select(
        F.col(id_col).alias("__id"),
        norm.alias("__s"),
        F.length(norm).alias("__len"),
    ).filter(F.col("__len") >= 1)

    blocked = keyed.select(
        "__id",
        "__s",
        "__len",
        F.explode(_block_keys(max_distance)).alias("__blk"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.abs(F.col("a.__len") - F.col("b.__len"))
                <= F.lit(max_distance)
            ),
        )
        .filter(
            F.levenshtein(F.col("a.__s"), F.col("b.__s")) <= max_distance
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.levenshtein(F.col("a.__s"), F.col("b.__s"))
            .cast("bigint")
            .alias("distance"),
        )
        .distinct()
    )


def er_cluster(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 1,
    prefix_len: int = 16,
    max_iter: int = 50,
) -> DataFrame:
    """Entity-resolution clustering: the full per-row cluster
    assignment that `fuzzy_dedup` (which only KEEPS survivors)
    throws away. Composes the certified pieces — blocked
    `fuzzy_pairs` (exact at ``max_distance=1``) feeding the exact
    min-label `connected_components` — and returns one row per
    non-NULL-id input row:

        (id, er_id, cluster_size, is_rep)

    where ``er_id`` is the minimum id in the row's edit-distance
    cluster (rows with no near-duplicate are singletons: er_id =
    their own id, cluster_size = 1), ``cluster_size`` counts the
    cluster's member rows, and ``is_rep`` marks the canonical
    representative (id == er_id — the min-id keep policy; feed the
    output to `select_representatives` for a quality-ranked policy
    instead). NULL ids are excluded up front (an unidentifiable row
    can neither cluster nor represent), mirroring the
    `event_transitions` NULL-entity contract. ``id_col`` must be
    UNIQUE — it is an identity, and sizes/representatives are
    defined over ids: with duplicate ids the join back to the id
    spine fans out, every copy of a duplicated id reports is_rep
    under the same min-id rule, and ``cluster_size`` (a distinct-id
    count from the pair graph) no longer equals a row count. Dedup
    upstream (`exact_dedup` / `latest_per_key`) first.

    Scale: the pair graph is block-keyed (never all-pairs), the
    component table holds ONLY clustered nodes (pairs' endpoints —
    usually a small fraction of the corpus), and the join back to
    the id spine is a plain equi-join with NO explicit broadcast
    hint: AQE broadcasts it when the cluster table is small (the
    common case) and falls back to a shuffle join when a
    pathological corpus makes it big (the `lm_score_buckets` lesson:
    an unconditional broadcast of an unbounded table is a
    driver-OOM). Cluster sizes aggregate over the component table
    alone, so the full corpus is never shuffled by cluster id.

    Reference parity: the reference has no entity-resolution surface
    at all; this completes fuzzy_pairs/fuzzy_dedup into the standard
    ER triple (match -> cluster -> canonicalize). Oracle design
    (round-10 registration): brute-force Levenshtein pairs +
    recursive-CTE transitive closure (the `minhash_dedup_cc`
    pattern), cluster = least(u, min(reach)) per node.
    """
    from hdfe_spark.operators.graph import connected_components

    ids = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__rid")
    )
    pairs = fuzzy_pairs(
        df,
        id_col=id_col,
        text_col=text_col,
        max_distance=max_distance,
        prefix_len=prefix_len,
    ).select("id_a", "id_b")
    comp = connected_components(
        pairs, src="id_a", dst="id_b", max_iter=max_iter
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("__csz")
    )
    labeled = comp.join(sizes, on="component")
    er_id = F.coalesce(F.col("component"), F.col("__rid"))
    return (
        ids.join(labeled, ids["__rid"] == labeled["node"], "left")
        .select(
            F.col("__rid").alias(id_col),
            er_id.alias("er_id"),
            F.coalesce(F.col("__csz"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            (er_id == F.col("__rid")).alias("is_rep"),
        )
    )
