"""Fixture-table catalog + scan helpers.

The reference library does no I/O at all (callers hand it numpy/pandas
objects — SURVEY.md §2.5); in the Spark engine scans come from
``spark.read`` with Catalyst predicate pushdown / column pruning.

The driver's tables (TESTDATA.md) are one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale notes: a parquet scan here is splittable and prunable; at 100 TB
the same call reads a partitioned directory tree, and everything
downstream (filters, projections) is pushed into the scan by Catalyst
as long as we keep expressions declarative. ``load_table`` therefore
never caches or collects data.

It keeps one thing between calls: each file's parquet schema, one per
file per SparkSession. Inferring a parquet schema runs a Spark job
(35-65 ms a call on a warm 4-core local session); a read with the
schema given runs none (~10 ms). The schemas live in a dict on the session object, so
they end with the session; a file rewritten in place (new mtime, size
or inode) or a change to a parquet-inference conf infers again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs that change the schema Spark infers from a parquet
# footer; part of each schema memo key.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# Attribute of the SparkSession object that holds its schema memo:
# {absolute path: (stamp, StructType)}.
_SCHEMA_MEMO_ATTR = "_hdfe_parquet_schemas"


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    session's first read of this file as it is now. The stamp is the
    file's ``(st_mtime_ns, st_size, st_ino)`` plus the inference confs;
    a path keeps one entry, replaced when its stamp changes. A path
    ``os.stat`` cannot see (a remote URI, a missing file) is read
    without the memo, so Spark raises its own error for a missing one.
    Each call builds a fresh relation, so two frames of one table carry
    distinct expression ids and self-join like two plain reads."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    path = os.path.abspath(path)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino) + tuple(
        spark.conf.get(k) for k in _INFERENCE_CONFS
    )
    memo = vars(spark).setdefault(_SCHEMA_MEMO_ATTR, {})
    hit = memo.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    memo[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Scan one fixture table. Accepts both ``dir`` and ``dir/``.

    Caches no data. The table's parquet schema is inferred once per
    file per session and reused by later calls (see
    ``_read_parquet``); each call still returns a new, lazy scan.

    Sets ``spark.sql.legacy.parquet.nanosAsLong`` on the *caller's*
    session (runtime-settable) so ``events.parquet``'s
    INT64 TIMESTAMP(NANOS) column reads as bigint nanoseconds on any
    SparkSession, not just ones built via ``get_spark``. Nanosecond
    longs sort identically to the timestamps they encode, which is all
    the lag/order-by operators need.

    Also pins ``spark.sql.session.timeZone`` to UTC (runtime-settable,
    same rationale): calendar renderings — ``year``/``date_format``/
    window starts — otherwise depend on the host JVM's default zone,
    and the fixture's timestamps are UTC instants. A vanilla
    SparkSession on a non-UTC box would silently shift date parts.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def ts_micros(df: DataFrame, col: str = "ts"):
    """Event-time column as **bigint microseconds since epoch**,
    whatever physical type the fixture generation wrote:

    - INT64 TIMESTAMP(NANOS) → LongType ns under ``nanosAsLong`` →
      integer ``div 1000`` (float division would round in the double
      mantissa at ~1.7e18);
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → TIMESTAMP_NTZ under
      Spark 4's default NTZ inference → cast to TIMESTAMP under the
      UTC session zone ``load_table`` pins (wall-clock preserving),
      then ``unix_micros`` — bit-identical to DuckDB ``epoch_us(ts)``
      on the same naive value;
    - plain TIMESTAMP → ``unix_micros`` directly.

    Integer µs is the engine's canonical event-time unit: it sorts
    identically to the source timestamps and both engines agree on it
    exactly (no calendar rendering in the compare path).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register each table as a temp view so ``spark.sql`` queries work."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)


def read_binary_files(
    spark,
    path_glob: str,
    id_pattern: str = r"(\d+)\.bin$",
):
    """Opaque-binary ingestion via Spark's built-in ``binaryFile``
    format — THE entry point for multimodal payloads (images, audio,
    video) at scale: each file becomes one row of (path,
    modificationTime, length, content: binary), listed and read in
    parallel across executors, with partition sizing governed by
    ``spark.sql.files.maxPartitionBytes`` exactly like parquet scans.
    The decode stage downstream is `operators/multimodal.py`'s
    mapInPandas codecs; this is the I/O half.

    Returns (file_id, length, content): ``file_id`` parsed from the
    file name by ``id_pattern`` (NULL when the name does not match —
    callers filter or fail loud), ``length`` the on-disk byte count
    as reported by the source (no content materialization needed for
    length-only queries: binaryFile supports column pruning).
    ZERO-BYTE files yield no row at all (the source partitions by
    bytes) — an empty payload must be represented upstream by a
    sentinel, not an empty file."""
    from pyspark.sql import functions as F

    bf = spark.read.format("binaryFile").load(path_glob)
    # try_cast, not cast: regexp_extract yields '' (not NULL) on a
    # non-matching name, and under the session's ANSI mode a bare
    # cast('' as long) would kill the whole scan instead of giving
    # the promised NULL file_id
    return bf.select(
        F.regexp_extract(F.col("path"), id_pattern, 1)
        .try_cast("long")
        .alias("file_id"),
        F.col("length"),
        F.col("content"),
    )
