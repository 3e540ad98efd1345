"""Session confs ``get_spark`` sets for the engine's fixed costs.

``get_spark`` sizes ``spark.sql.codegen.cache.maxEntries`` to
``CODEGEN_CACHE_ENTRIES``. With Spark's default of 100 entries, a
workload that compiles more than 100 distinct classes cycles the LRU
and every repeated query compiles again. It also turns off
``spark.python.sql.dataFrameDebugging.enabled``, PySpark's call-site
capture on every ``functions`` and ``Column`` call.
"""

from hdfe_spark.session import CODEGEN_CACHE_ENTRIES

QUERIES = 150


def test_fixture_session_carries_codegen_cache_size(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_queries_reuse_compiled_code(spark):
    """150 queries that differ only in an inlined literal each compile
    one whole-stage class. Their second run must find every class in
    the cache; at 100 entries each of them compiles again. Each query is
    planned and its RDD built, which compiles on the driver, without a
    job."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_all() -> int:
        before = metric.getCount()
        for i in range(QUERIES):
            df = spark.sql(f"SELECT id * {i + 2} AS x FROM range(0, 10, 1, 1)")
            df._jdf.queryExecution().executedPlan().execute()
        return metric.getCount() - before

    first = run_all()
    second = run_all()
    assert first >= QUERIES - 5, first
    assert second <= 5, (first, second)


def test_fixture_session_turns_off_dataframe_debugging(spark):
    """PySpark's per-call call-site capture is off on ``get_spark``
    sessions, and the process-wide flag PySpark caches reads it."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
