"""Scale harness: the engine's most expensive operator paths on
deterministic synthetic inputs of 5-20M rows, where they are
throughput-bound rather than bound by per-query overhead.

The sf0.1 bench (`bench.py`) and the `perfbench/` workloads cannot
judge throughput work: their scans are single row groups and each
query carries a fixed overhead. Two ROADMAP items are judged here
instead, each at a fixed core count: the MinHash kernel rewrite on
`minhash_dedup` (400k documents) and the fused FE sweep on `ols_2fe`
(5M rows, the distributed alternating-projection tier). Its results
are recorded in SCALE.md.

Inputs are built from spark.range plus hash-derived columns with fixed
partition counts, so runs at different core counts or commits process
identical data. Each query runs once to warm up and twice timed; a
capacity probe brackets the run. It times bench.py's numpy task alone,
then `cpus` copies on a `cpus`-wide thread pool (`par{cpus}_sec`), and
reports `effective_parallelism = cpus * single / par`: on an idle host
`par{cpus}_sec` is about one task time and the parallelism about
`cpus`. Prints one JSON line: cores, input sizes, times, probes.

Usage:
  SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=6g \
      python tools/scale_stress.py [query ...] > scale.json

Queries: ols_2fe, residuals, within_se, token_stats, tfidf_topk,
minhash_dedup (all when none is named). `ols_2fe` runs at N_PANEL/4
(5M rows): the alternating-projection solver over 20k partkey levels
costs 200-450 s a repetition at 20M rows on 32 cores.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PANEL = 20_000_000
N_DOCS = 2_000_000
N_MINHASH = 400_000


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _clear(spark):
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        jmap.get(rid).unpersist(False)


def panel(spark, n=N_PANEL, parts=64):
    from pyspark.sql import functions as F

    base = spark.range(0, n, 1, parts)
    return base.select(
        F.col("id"),
        (F.pmod(F.xxhash64("id"), F.lit(1000))).alias("suppkey"),
        (F.pmod(F.xxhash64("id", F.lit(2)), F.lit(20000))).alias("partkey"),
        (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(50)).cast("double") + 1.0).alias("qty"),
        (F.pmod(F.xxhash64("id", F.lit(4)), F.lit(11)).cast("double") / 100.0).alias(
            "disc"
        ),
    ).withColumn(
        "price",
        2.5 * F.col("qty")
        - 40.0 * F.col("disc")
        + (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(997)).cast("double") / 99.7),
    )


def docs(spark, n=N_DOCS, parts=64):
    from pyspark.sql import functions as F

    words = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
        "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
        "oscar", "papa", "quebec", "romeo", "sierra", "tango",
    ]
    warr = F.array(*[F.lit(w) for w in words])
    base = spark.range(0, n, 1, parts)
    # ~25 pseudo-random words per doc, deterministic in id
    cols = [
        F.element_at(warr, (F.pmod(F.xxhash64("id", F.lit(i)), F.lit(20)) + 1).cast("int"))
        for i in range(25)
    ]
    return base.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *cols).alias("text"),
    )


def run(spark, name, build):
    from pyspark.sql import functions as F  # noqa: F401

    spark.sparkContext.setJobDescription(f"scale_stress:{name}:warm")
    _noop(build(spark))
    _clear(spark)
    times = []
    for i in range(2):
        spark.sparkContext.setJobDescription(f"scale_stress:{name}:{i}")
        t0 = time.perf_counter()
        _noop(build(spark))
        times.append(round(time.perf_counter() - t0, 3))
        _clear(spark)
    print(f"# {name}: {times}", file=sys.stderr, flush=True)
    return times


def main():
    from hdfe_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="scale_stress")
    cpus = spark.sparkContext.defaultParallelism

    # capacity probe brackets the run (see the module docstring)
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    def task(seed):
        a = np.random.default_rng(seed).standard_normal(400_000)
        for _ in range(40):
            a = np.tanh(a) + 0.1 * a
        return float(a[0])

    def probe():
        t0 = time.perf_counter()
        task(0)
        t_single = time.perf_counter() - t0
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=cpus) as ex:
            list(ex.map(task, range(cpus)))
        t_par = time.perf_counter() - t0
        return {
            "single_task_sec": round(t_single, 4),
            f"par{cpus}_sec": round(t_par, 4),
            "effective_parallelism": round(cpus * t_single / t_par, 2),
        }

    p0 = probe()
    out = {}

    def q_ols_2fe(spark):
        from hdfe_spark.operators.estimate import estimate

        res = estimate(
            panel(spark, n=N_PANEL // 4), "price", ["qty", "disc"],
            categorical_controls=["suppkey", "partkey"],
            within_if_fe=False,
        )
        b = res.slopes
        return spark.createDataFrame(
            [{"b_qty": float(b[0, 0]), "b_disc": float(b[1, 0])}],
            schema="b_qty double, b_disc double",
        )

    def q_residuals(spark):
        from hdfe_spark.operators.estimate import estimate

        res = estimate(
            panel(spark), "price", ["qty", "disc"],
            categorical_controls=["suppkey"], get_residual=True,
        )
        return res.residuals.select("id", "resid_price")

    def q_within_se(spark):
        from hdfe_spark.operators.estimate import estimate

        res = estimate(
            panel(spark), "price", ["qty", "disc"],
            categorical_controls=["suppkey"], estimate_variance=True,
        )
        se = np.sqrt(np.maximum(np.diag(res.V[0][-2:, -2:]), 0.0))
        return spark.createDataFrame(
            [{"se_qty": float(se[0]), "se_disc": float(se[1])}],
            schema="se_qty double, se_disc double",
        )

    def q_token_stats(spark):
        from hdfe_spark.operators.text import token_stats

        return token_stats(docs(spark)).select(
            "doc_id", "n_tokens_ws", "n_tokens_bpe", "chars_per_token"
        )

    def q_tfidf(spark):
        from hdfe_spark.operators.text import tf_idf

        return tf_idf(docs(spark, n=N_DOCS // 4), top_k=3)

    def q_minhash(spark):
        from hdfe_spark.operators.dedup import minhash_dedup

        return minhash_dedup(
            docs(spark, n=N_MINHASH), num_hashes=128, bands=16,
            jaccard_threshold=0.8,
        ).select("doc_id")

    wanted = sys.argv[1:]
    for name, fn in [
        ("ols_2fe", q_ols_2fe),
        ("residuals", q_residuals),
        ("within_se", q_within_se),
        ("token_stats", q_token_stats),
        ("tfidf_topk", q_tfidf),
        ("minhash_dedup", q_minhash),
    ]:
        if wanted and name not in wanted:
            continue
        out[name] = run(spark, name, fn)

    p1 = probe()
    print(
        json.dumps(
            {
                "cpus": cpus,
                "rows_panel": N_PANEL,
                "rows_docs": N_DOCS,
                "rows_minhash": N_MINHASH,
                "times": out,
                "probes": [p0, p1],
            }
        )
    )


if __name__ == "__main__":
    main()
