"""Seeded input generation for the three workloads.

Every table is built with numpy from ``--seed`` alone and written once
per seed as parquet under ``<data_root>/<workload>/seed<seed>-<sizes>/``;
a later run with the same seed and sizes reuses the files.  The numpy arrays stay
in memory so the correctness checks can compare Spark's answers with
a local solve over exactly the same values, without collecting.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are part of the benchmark's definition (BENCHMARK.json repeats
# them); changing one changes what every metric means.
FIXTURE = {
    "lineitem_rows": 200_000,
    "orders": 50_000,  # lineitem_rows / 4
    "parts": 10_000,
    "suppliers": 500,
    "events_rows": 40_000,
    "users": 1_000,
}
SCALE = {
    "rows": 2_000_000,
    "fe_a_levels": 1_000,
    "fe_b_levels": 20_000,
    "zipf_a": 1.1,
    "files": 16,
}
DOCS = {
    "docs": 2_000,
    "base_words": (30, 60),
    "vocab": 3_000,
    "dup_clusters": 150,
    "dup_cluster_size": (2, 4),
    "near_miss_pairs": 200,
    "embeddings": 800,
    "dim": 64,
    "emb_dup_pairs": 40,
    "knn_queries": 16,
}

BETA_SCALE = np.array([2.0, -1.0])


def _write(path: str, name: str, cols: dict, files: int = 1) -> None:
    """Write ``cols`` as ``path/name.parquet`` (a directory of
    ``files`` parts when ``files > 1``)."""
    table = pa.table(cols)
    target = os.path.join(path, f"{name}.parquet")
    if files == 1:
        pq.write_table(table, target)
        return
    os.makedirs(target)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(target, f"part-{i:04d}.parquet")
        )


def _root(data_root: str, workload: str, seed: int, sizes: dict) -> str:
    """Input directory for one seed; the sizes are part of its name, so
    files written under other sizes are never reused."""
    digest = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    return os.path.join(data_root, workload, f"seed{seed}-{digest}")


def _materialize(root: str, writer) -> str:
    """Run ``writer(tmpdir)`` once and publish the directory atomically,
    so an interrupted run never leaves a half-written input behind."""
    if os.path.isdir(root):
        return root
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    writer(tmp)
    os.rename(tmp, root)
    return root


def _zipf_levels(rng: np.random.Generator, n: int, levels: int, a: float) -> np.ndarray:
    """``n`` draws over ``levels`` ids with Zipf(a)-skewed frequencies;
    ids are shuffled so the heavy levels are not the small ids."""
    w = 1.0 / np.arange(1, levels + 1) ** a
    perm = rng.permutation(levels)
    return perm[rng.choice(levels, size=n, p=w / w.sum())].astype(np.int64)


# ------------------------------------------------------------ panels


def panel_fixture(seed: int, data_root: str) -> tuple[str, dict]:
    """sf0.1-shaped lineitem / orders / part / events tables."""
    rng = np.random.default_rng([seed, 1])
    s = FIXTURE
    n = s["lineitem_rows"]
    supp = rng.integers(0, s["suppliers"], n)
    part = rng.integers(0, s["parts"], n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    disc = rng.integers(0, 11, n) / 100.0
    alpha = rng.normal(0, 500, s["suppliers"])
    gamma = rng.normal(0, 300, s["parts"])
    price = (
        900.0 * qty - 4000.0 * disc + alpha[supp] + gamma[part] + rng.normal(0, 100, n)
    )
    # four lines per order, rows shuffled: (l_orderkey, l_linenumber)
    # is a unique row key
    perm = rng.permutation(n)
    li = {
        "l_orderkey": (np.arange(n, dtype=np.int64) // 4)[perm],
        "l_partkey": part,
        "l_suppkey": supp,
        "l_linenumber": (np.arange(n, dtype=np.int32) % 4 + 1)[perm],
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
    }
    no = s["orders"]
    orders = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, no)],
    }
    np_ = s["parts"]
    parts = {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, np_)
        ],
    }
    ne = s["events_rows"]
    ev = {
        "event_id": np.arange(ne, dtype=np.int64),
        # distinct microsecond timestamps, so every lag is unambiguous
        "ts": (np.int64(1_704_067_200_000_000) + rng.permutation(ne).astype(np.int64) * 1_000_003),
        "user_id": rng.integers(0, s["users"], ne),
        "value": np.round(rng.gamma(2.0, 40.0, ne), 2),
    }
    data = {"lineitem": li, "orders": orders, "part": parts, "events": ev}

    def writer(tmp):
        for name, cols in data.items():
            if name == "events":
                cols = dict(cols, ts=pa.array(cols["ts"], pa.timestamp("us")))
            _write(tmp, name, cols)

    root = _materialize(_root(data_root, "panel_fixture", seed, s), writer)
    return root, data


def panel_scale(seed: int, data_root: str) -> tuple[str, dict]:
    """Synthetic panel with two Zipf-skewed high-cardinality FE keys and
    planted slopes ``BETA_SCALE``; ``t`` orders rows within ``fe_b``."""
    rng = np.random.default_rng([seed, 2])
    s = SCALE
    n = s["rows"]
    fe_a = _zipf_levels(rng, n, s["fe_a_levels"], s["zipf_a"])
    fe_b = _zipf_levels(rng, n, s["fe_b_levels"], s["zipf_a"])
    x1 = rng.normal(0, 1, n)
    x2 = rng.normal(0, 1, n) + 0.3 * x1
    alpha = rng.normal(0, 2, s["fe_a_levels"])
    gamma = rng.normal(0, 2, s["fe_b_levels"])
    y = BETA_SCALE[0] * x1 + BETA_SCALE[1] * x2 + alpha[fe_a] + gamma[fe_b]
    y = y + rng.normal(0, 1, n)
    # t: a random order of the rows within each fe_b entity
    order = np.lexsort((rng.random(n), fe_b))
    counts = np.bincount(fe_b, minlength=s["fe_b_levels"])
    starts = np.cumsum(counts) - counts
    t = np.empty(n, dtype=np.int64)
    t[order] = np.arange(n) - starts[fe_b[order]]
    cols = {
        "id": np.arange(n, dtype=np.int64),
        "fe_a": fe_a,
        "fe_b": fe_b,
        "t": t,
        "x1": x1,
        "x2": x2,
        "y": y,
    }

    def writer(tmp):
        _write(tmp, "lineitem", cols, files=s["files"])

    root = _materialize(_root(data_root, "panel_scale", seed, s), writer)
    return root, {"lineitem": cols}


# --------------------------------------------------------- documents


def curate_docs(seed: int, data_root: str) -> tuple[str, dict]:
    """Documents with planted duplicate clusters, plus embeddings with
    planted near-duplicate pairs.

    Each cluster has one base document; its copies are either exact
    copies or the base with one word appended (5-shingle Jaccard
    > 0.9 between any two members, above the 0.8 verify threshold).
    Each near-miss pair shares the leading 70-80% of its words (Jaccard
    ~0.55-0.72): under the threshold, but often inside the LSH's
    candidate band, so verification has candidates to reject.
    Unrelated documents draw words independently from a 3k-word
    vocabulary, so their shingle overlap is ~0."""
    rng = np.random.default_rng([seed, 3])
    s = DOCS
    vocab = np.array([f"w{i:04d}" for i in range(s["vocab"])])
    n = s["docs"]
    lo, hi = s["base_words"]
    texts: list[str] = []
    for _ in range(n):
        texts.append(" ".join(vocab[rng.integers(0, s["vocab"], rng.integers(lo, hi))]))
    # planted clusters over disjoint doc slots
    slots = rng.permutation(n)
    clusters, pos = [], 0
    for _ in range(s["dup_clusters"]):
        size = int(rng.integers(s["dup_cluster_size"][0], s["dup_cluster_size"][1] + 1))
        members = slots[pos:pos + size]
        pos += size
        base = texts[members[0]]
        for m in members[1:]:
            if rng.random() < 0.5:
                texts[m] = base
            else:
                texts[m] = base + " " + vocab[rng.integers(0, s["vocab"])]
        clusters.append(np.sort(members))
    for _ in range(s["near_miss_pairs"]):
        a, b = slots[pos], slots[pos + 1]
        pos += 2
        words = texts[a].split(" ")
        keep = len(words) - int(np.ceil(rng.uniform(0.2, 0.3) * len(words)))
        texts[b] = " ".join(words[:keep] + list(vocab[rng.integers(0, s["vocab"], len(words) - keep)]))
    langs = np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)]
    docs = {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": langs,
        "source": np.array(["src0", "src1", "src2"])[rng.integers(0, 3, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    ne, d = s["embeddings"], s["dim"]
    emb = rng.normal(0, 1, (ne, d)).astype(np.float32)
    pair_slots = rng.permutation(ne)[: 2 * s["emb_dup_pairs"]].reshape(-1, 2)
    for a, b in pair_slots:
        emb[b] = emb[a] + rng.normal(0, 0.05, d).astype(np.float32)
    embeddings = {
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, ne).astype(np.int32),
    }

    def writer(tmp):
        _write(tmp, "documents", docs)
        _write(
            tmp,
            "embeddings",
            dict(
                embeddings,
                embedding=pa.FixedSizeListArray.from_arrays(
                    pa.array(emb.ravel()), d
                ).cast(pa.list_(pa.float32())),
            ),
        )

    root = _materialize(_root(data_root, "curate_docs", seed, s), writer)
    return root, {"documents": docs, "embeddings": embeddings, "emb_pairs": pair_slots, "clusters": clusters}


GENERATORS = {
    "panel_fixture": panel_fixture,
    "panel_scale": panel_scale,
    "curate_docs": curate_docs,
}
