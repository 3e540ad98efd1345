"""Exact set-similarity self-join via prefix filtering (AllPairs /
PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08).

Finds every unordered pair of documents whose token-shingle sets have
Jaccard >= tau — EXACTLY, with no all-pairs stage and no probabilistic
misses. The complement of the MinHash path in ``operators/dedup.py``:
MinHash trades a tunable miss probability for one banding pass; this
operator is loss-free and is the right tool when the dedup policy must
be auditable ("every pair above tau, provably").

Reference scope note: the reference engine (esantorella/hdfe) has no
similarity surface at all; this module is part of the beyond-reference
training-data-pipeline suite (BASELINE.json north star), same family
as `hdfe/groupby.py`-style key factorization only in that it reuses
the engine's tokenizer contract (`operators/text.py::tokens`).

Why it scales to 100 TB
-----------------------
The prefix-filter lemma: order every document's shingle set by a
single global total order (document frequency ascending, then shingle
text — rarest first), and keep only each document's first
``p = n - ceil(tau*n) + 1`` shingles as its *prefix*. If
J(A,B) >= tau then prefix(A) and prefix(B) share at least one
shingle (proof in ``setsim_join``'s docstring), so joining documents
on *prefix* shingles only is a lossless candidate generator:

- the candidate join is keyed on the RAREST (1-tau) fraction of each
  set — high-frequency shingles (the skew keys) are never join keys
  unless a document's whole set is tiny;
- candidate volume per shingle is bounded by that shingle's posting
  list among prefixes, not among all documents;
- everything else is linear scans, hash aggregations, and equi-joins
  that AQE can re-plan (skew-split) at runtime.

No Python in any hot path: shingling, ordering, prefix slicing, and
exact Jaccard verification are all JVM codegen expressions
(``transform`` / ``slice`` / ``array_intersect``).

One pair kernel for the set-similarity family
---------------------------------------------
``_posting_pairs(postings, id_col, keys)`` is the single place where
candidate pairs are generated from a posting table: an equi-join on
``keys`` with ``id_a < id_b`` in the join condition, then one
``groupBy(id_a, id_b).count()`` as ``n_shared``. Its contract is that
``postings`` holds each ``(id, keys)`` row at most once, so
``n_shared`` is the number of distinct keys the two ids share; NULL
ids and NULL keys never pair. ``minhash_candidate_pairs``,
``minhash_dedup`` and ``containment_pairs`` (``dedup.py``),
``fingerprint_neardup_pairs`` (``text.py``), ``setsim_join`` and
``assoc_rules`` / ``item_cf`` (``basket.py``) all route through it.
Two pair operators stay outside it on purpose:
``dedup.simhash_neardup_pairs`` and ``fuzzy.fuzzy_pairs`` carry a
payload through the join and verify on the joined row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hdfe_spark.operators.text import tokens


def _posting_pairs(postings: DataFrame, id_col: str, keys: Sequence[str]) -> DataFrame:
    """``(id_a, id_b, n_shared)`` for every pair of ids with
    ``id_a < id_b`` that share at least one posting key; ``n_shared``
    counts the shared ``keys`` tuples. ``postings`` must be distinct
    per ``(id_col, *keys)`` (see the module docstring)."""
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        postings.alias("a")
        .join(postings.alias("b"), cond)
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _check_unit_interval(op: str, name: str, value: float) -> None:
    """Driver-side guard for a similarity threshold: ``0 < value <= 1``."""
    if not 0.0 < value <= 1.0:
        raise ValueError(f"{op}: {name} must be in (0, 1], got {value!r}")


def _shingles(t, k: int):
    """Word ``k``-shingles of the token array ``t``: an empty array when
    ``t`` has fewer than ``k`` tokens."""
    n = F.size(t)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_array(text_col, k: int = 5):
    """All consecutive word ``k``-shingles of ``text_col`` as an
    array<string> (space-joined, lowercased whitespace tokens), in
    JVM whole-stage codegen. Documents shorter than ``k`` tokens get
    an empty array.

    PERF HAZARD (optimization r16, guide §1.2/§4-adjacent): the
    transform lambda references the ``tokens()`` subtree, and a
    higher-order-function lambda re-evaluates any captured outer
    EXPRESSION once per element — so this single expression
    re-tokenizes the full text n_shingles times (measured 7-12x on
    the sf0.1 shingle stage). Prefer ``word_shingle_frame``, which
    hoists the token array behind a projection boundary so it
    evaluates once per row; this form is kept for callers that need
    a pure Column."""
    return _shingles(tokens(text_col), k)


def word_shingle_frame(
    df: DataFrame,
    id_col,
    text_col,
    k: int = 5,
    out_col: str = "sh",
    id_out: str = "id",
) -> DataFrame:
    """(``id_out``, ``out_col``: array<string> of word k-shingles) with the
    token array HOISTED behind a projection boundary, so ``tokens()``
    runs once per row instead of once per transform element (the
    ``shingle_array`` hazard above). CollapseProject keeps the
    boundary because ``__t`` is referenced more than once and is not
    a cheap expression. Values are bit-identical to ``shingle_array``
    (same expression tree modulo the hoist) — pinned in
    tests/test_opt_r16b.py and certified by the setsim_join /
    dup_ngram_spans brute-force oracles."""
    tk = df.select(F.col(id_col).alias(id_out), tokens(F.col(text_col)).alias("__t"))
    return tk.select(id_out, _shingles(F.col("__t"), k).alias(out_col))


def setsim_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau: float = 0.8,
    shingle_k: int = 5,
) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= tau, exact.

    Correctness of the prefix filter: sort each set ascending by the
    global (df, shingle) order and let ``suffix(S)`` be the elements
    after position ``p_S = |S| - ceil(tau*|S|) + 1``. If
    ``J(A,B) >= tau`` then the overlap ``o = |A∩B|`` satisfies
    ``o >= tau*max(|A|,|B|)``, hence ``o >= ceil(tau*|A|)`` and
    ``o >= ceil(tau*|B|)``. Suppose the prefixes were disjoint, and
    let x be the order-minimum element of A∩B; x cannot sit in both
    prefixes, so it sits past one side's prefix — say B's. Every
    element of A∩B is >= x in the order, so A∩B fits inside
    suffix(B), whose size is ``ceil(tau*|B|) - 1 < o`` —
    contradiction. So any qualifying pair shares a prefix shingle and
    survives the candidate join. Verification is then exact
    ``|A∩B| / |A∪B|``; no false positives either.

    The prefix length uses ``ceil(tau*n - 1e-9)`` — the epsilon only
    ever LENGTHENS the prefix (more candidates), never shortens it,
    so float fuzz cannot cost recall.

    Plan shape (each a standard shuffle Catalyst/AQE handles):
    distinct shingles (hash agg), document frequency (hash agg),
    frequency-order join (equi-join on shingle; AQE may broadcast),
    per-document sort+slice (hash agg on id), prefix self-join
    (equi-join on shingle, ``_posting_pairs``), two id-keyed verify
    joins. ``tau`` must be in (0, 1].
    """
    _check_unit_interval("setsim_join", "tau", tau)
    # Hoisted token array (see word_shingle_frame): tokens() runs once
    # per row, not once per shingle. The explode is explode_outer +
    # isNotNull-on-output because InferFiltersFromGenerate's
    # size(sh) > 0 filter under a plain explode gets predicate-pushed
    # below the hoist with the full inline expression substituted back
    # in (see containment_pairs); explode_outer's extra NULL-tok rows
    # for empty arrays are exactly the rows the guard drops.
    base = word_shingle_frame(df, id_col, text_col, shingle_k, "sh")
    toks = (
        base.select("id", F.explode_outer("sh").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))

    # Each document's set, sorted ascending by (df, tok): the single
    # global total order every prefix must agree on.
    ordered = (
        toks.join(dfreq, "tok")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("o"))
        .select(
            "id",
            F.transform("o", lambda s: s["tok"]).alias("set"),
            F.size("o").alias("n"),
        )
    )
    # Fused ordered-set table (optimization r16, guide §1.2): the
    # `ordered` subtree feeds FOUR consumers (both prefix self-join
    # sides and both verify joins); ReusedExchange shares the
    # exchanges below its final aggregation, but the per-document
    # collect_list + array_sort re-executes per consumer — a
    # query-scoped persist runs it once. Values unchanged (same
    # lineage).
    from hdfe_spark.operators.dedup import _query_scoped_persist

    ordered = _query_scoped_persist(ordered)
    p = (F.col("n") - F.ceil(F.lit(tau) * F.col("n") - F.lit(1e-9)) + F.lit(1)).cast("int")
    prefixes = ordered.select(
        "id", F.explode(F.slice("set", F.lit(1), p)).alias("tok")
    )

    cand = _posting_pairs(prefixes, "id", ["tok"]).select("id_a", "id_b")

    sets = ordered.select("id", "set", "n")
    inter = F.size(F.array_intersect("sa.set", "sb.set"))
    jac = inter / (F.col("sa.n") + F.col("sb.n") - inter)
    return (
        cand.join(sets.alias("sa"), cand["id_a"] == F.col("sa.id"))
        .join(sets.alias("sb"), cand["id_b"] == F.col("sb.id"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )
