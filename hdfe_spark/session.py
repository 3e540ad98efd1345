"""SparkSession construction tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not the 200 default), AQE on for runtime
re-planning (skew joins, partition coalescing), Arrow on for the
pandas-UDF boundary, UTC session timezone so timestamp semantics match
the DuckDB oracle.

At cluster scale the same builder works — only ``master`` and the
memory knobs change; ``spark.sql.shuffle.partitions`` should then be
sized to ~2-3× total cores and AQE left on to coalesce.

Session contract
----------------
:func:`get_spark` also selects the engine's Python worker daemon,
``spark.python.daemon.module = hdfe_spark._pyworker``, and puts this
package's root on the workers' path (``spark.executorEnv.PYTHONPATH``,
which Spark adds to the daemon's ``PYTHONPATH``), so the daemon and
every UDF imports this package whatever directory the process was
launched from. Every Python task (``pandas_udf``, ``applyInPandas``,
``mapInArrow``) runs pyspark's ``setup_spark_files``, whose
``importlib.invalidate_caches()`` makes CPython 3.11/3.12 re-read every
zip archive on the worker path: ``pyspark.zip`` and the Spark core jar,
~0.2 s per task. The daemon re-reads an archive only when it changed
(see ``_pyworker``). A session built elsewhere — by a harness that then
calls ``entry(spark)``, or ``ORACLE_VANILLA=1 tools/check_oracle.py`` —
keeps Spark's default daemon and pays the re-read. ``extra_conf``
overrides every setting here, these two included.

:func:`get_spark` also sets ``spark.sql.codegen.cache.maxEntries`` to
``CODEGEN_CACHE_ENTRIES`` (1,000), the size of Spark's LRU of compiled
whole-stage classes. At Spark's default of 100, one bench pass (124
distinct classes on ``panel_fixture``, ~170 on ``curate_docs``) cycles
the LRU and the next pass recompiles 117-161 of them, each compile also
throwing away the JIT work done on the old class; at 1,000 it
recompiles 0-4. The size is a static setting for the whole JVM, fixed
by the first code generation in that JVM. A session built elsewhere —
by a harness that then calls ``entry(spark)``, or ``ORACLE_VANILLA=1
tools/check_oracle.py`` — keeps Spark's 100. An entry is keyed by its
generated source (mean 5-11 KB on the bench workloads) and holds the
loaded classes (2-3 KB of bytecode each). Measured after a full GC, 600
small one-stage entries held ~19 KB of heap and ~1.5 KB of Metaspace
each, so a full cache costs a few tens of MB.

:func:`get_spark` also sets ``spark.python.sql.dataFrameDebugging.enabled``
to ``false``. PySpark 4 wraps every ``functions`` call and every
``Column`` method so that, with the flag on, each call records its
Python call site for DataFrame error context: several py4j round trips,
a stack walk and a failed ``import IPython``, ~0.85 ms a call and 432
calls in one ``panel_fixture`` warm pass. With it off, an error's
class and message are unchanged, but its DataFrame query context no
longer names the Python line that built the failing expression.
PySpark reads the flag once per process, at the first wrapped call,
from the session active then (off if none is), and keeps that value
for the life of the process, whatever later sessions set. A session built
elsewhere — by a harness that then calls ``entry(spark)``, or
``ORACLE_VANILLA=1 tools/check_oracle.py`` — keeps PySpark's default,
on. ``extra_conf`` can turn it back on.

Some set-similarity operators (``minhash_candidate_pairs``,
``minhash_dedup``, ``ngram_jaccard_pairs``, ``setsim_join``,
``dup_ngram_spans``) persist a signature table so that every consumer
in the query reads one pass. Those persists stay in the cache until
more than ``HDFE_SCOPED_PERSIST_CAP`` (default 8) are outstanding, when
the oldest are dropped. In a long session, call
``hdfe_spark.operators.dedup.release_query_caches()`` once a query's
results are collected or written, as ``perfbench/run.py`` does after
every step. Do not call it between building a lazy frame and running
it: the values stay the same, but each consumer then recomputes the
signature pass.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries of Spark's per-JVM generated-code cache; both bench workloads
# together need ~300 (see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000

# The Python worker daemon, and the package root on the workers' path so
# that the daemon and the UDFs import this package from any launch cwd.
_WORKER_CONF = {
    "spark.python.daemon.module": "hdfe_spark._pyworker",
    "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
}


def py_stage_partitions(
    spark: "SparkSession | None" = None, df=None
) -> int:
    """Partition width for Arrow/pandas-UDF stages over small-to-mid
    tables.

    Resolution order: explicit ``HDFE_PY_STAGE_PARTITIONS`` env →
    data-aware width when a frame is supplied (optimization r16,
    review r15: a flat cores/4 derate is a local worker-spawn
    heuristic — at scale it would cap a CPU-heavy Arrow stage at 25%
    of cluster parallelism, so the width grows with the optimizer's
    input-size estimate at ``HDFE_PY_STAGE_TARGET_BYTES`` per task,
    clamped to [cores/4, 2×cores]) → plain ``defaultParallelism // 4``
    (one Python-stage task per ~4 cores: measured on local[32], >8
    simultaneous Python workers per stage cost 3-10× in worker
    spawn/attach overhead, so 32 cores → 8 tasks) → conservative 8.
    Never a fixed width independent of the cluster. On the local
    fixtures the size estimate stays below one target block, so the
    floor applies and the width is unchanged from r15."""
    env = os.environ.get("HDFE_PY_STAGE_PARTITIONS")
    if env:
        return int(env)
    if spark is None and df is not None:
        spark = df.sparkSession
    if spark is None:
        return 8
    cores = spark.sparkContext.defaultParallelism
    floor = max(8, cores // 4)
    if df is not None:
        try:
            size = int(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
            target = int(
                os.environ.get(
                    "HDFE_PY_STAGE_TARGET_BYTES", str(64 * 1024 * 1024)
                )
            )
            want = -(-size // max(target, 1))
            return min(max(floor, want), max(floor, cores * 2))
        except Exception:
            pass
    return floor


# Logical-plan nodes whose output is already shuffle-wide.
_EXCHANGE_NODES = frozenset({
    "Window", "Aggregate", "Join", "Sort", "Repartition",
    "RepartitionByExpression", "RebalancePartitions",
})


def _already_exchanged(df) -> bool:
    """Whether ``df``'s logical plan already shuffles (a window,
    aggregate, join, sort or repartition node), so its output is
    already ``shuffle.partitions`` wide and probing ``df.rdd`` would
    eagerly run the upstream stages under AQE. Classifies by the node
    name at the start of each tree line, not by raw substring: the
    plan string also prints column names and literals (a column
    ``SortKey``, a filter on ``"Join us"``). Tree-drawing prefixes are
    spaces and ``:+-|``; unresolved nodes carry a leading apostrophe.
    A plan that cannot be read counts as exchanged."""
    try:
        lp = df._jdf.queryExecution().logical().toString()
    except Exception:
        return True
    nodes = re.findall(r"(?m)^[\s:+\-|]*'?([A-Za-z][A-Za-z0-9]*)", lp)
    return not _EXCHANGE_NODES.isdisjoint(nodes)


def get_spark(
    app_name: str = "hdfe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32). Explicit arguments override environment. The Python worker
    daemon, the workers' path, the generated-code cache size
    (``CODEGEN_CACHE_ENTRIES``) and the DataFrame debugging flag are
    set as the module docstring's session contract says;
    ``extra_conf`` is applied last and overrides them. The cache size
    takes effect only if this session is built before the JVM's first
    code generation, and the debugging flag only if no ``functions``
    or ``Column`` call ran under an earlier session in this process.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The events fixture carries TIMESTAMP(NANOS) parquet columns,
        # which Spark only reads as LongType (ns since epoch) behind
        # this flag. Ordering semantics are identical; convert with
        # timestamp_micros(ns div 1000) where a real timestamp is
        # needed (see streaming/ops.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # per-call Python call-site capture, ~0.85 ms a call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in {**_WORKER_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
