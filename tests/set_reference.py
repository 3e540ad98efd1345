"""Brute-force Python references for the set-similarity operators:
word shingles, all-pairs Jaccard and containment, cross-document
duplicated n-gram spans. Plain sets and loops over every pair —
nothing here calls ``hdfe_spark``.

The tokenizer matches the engine's contract (lowercase, split on
whitespace, drop empty tokens); the test corpora are ASCII, where
Python's and Java's whitespace classes agree.
"""

from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations, permutations


def tokens(text):
    return (text or "").lower().split()


def word_grams(text, k):
    """Consecutive word ``k``-grams in order (repeats kept)."""
    t = tokens(text)
    return [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]


def char_grams(text, k):
    """Distinct character ``k``-grams of the lowercased text."""
    low = (text or "").lower()
    return {low[i:i + k] for i in range(len(low) - k + 1)}


def byte_grams(text, k):
    """Distinct UTF-8 byte ``k``-grams of the lowercased text."""
    low = (text or "").lower().encode("utf-8")
    return {low[i:i + k] for i in range(len(low) - k + 1)}


def jaccard(a, b):
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def setsim_pairs(docs, k, tau):
    """``(id_a, id_b, jaccard)`` for every id_a < id_b whose word
    ``k``-shingle sets have Jaccard >= tau."""
    sets = {i: set(word_grams(t, k)) for i, t in docs}
    out = []
    for a, b in combinations(sorted(sets), 2):
        if sets[a] and sets[b]:
            j = jaccard(sets[a], sets[b])
            if j >= tau:
                out.append((a, b, j))
    return sorted(out)


def containment_pairs(docs, k, threshold):
    """``(id_a, id_b, n_common, size_a, containment)`` for every
    ordered pair of distinct documents with
    ``|S_a ∩ S_b| / |S_a| >= threshold`` over character ``k``-grams."""
    sets = {i: char_grams(t, k) for i, t in docs}
    out = []
    for a, b in permutations(sorted(sets), 2):
        common = len(sets[a] & sets[b])
        if common and common / len(sets[a]) >= threshold:
            out.append((a, b, common, len(sets[a]), common / len(sets[a])))
    return sorted(out)


def dup_ngram_spans(docs, k):
    """``(id, n_grams, n_dup, dup_frac)`` per document: how many of
    its word ``k``-gram positions carry a gram that also occurs in
    another document. ``dup_frac`` is rounded half-up to 6 places."""
    grams = {i: word_grams(t, k) for i, t in docs}
    owners = {}
    for i, gs in grams.items():
        for g in set(gs):
            owners[g] = owners.get(g, 0) + 1
    out = []
    for i, gs in grams.items():
        n_dup = sum(owners[g] > 1 for g in gs)
        frac = Decimal(repr(n_dup / max(len(gs), 1)))
        out.append(
            (i, len(gs), n_dup, float(frac.quantize(Decimal("1e-6"), ROUND_HALF_UP)))
        )
    return sorted(out)
