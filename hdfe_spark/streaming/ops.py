"""Structured Streaming forms of the engine's grouped operators.

The reference is batch-only (SURVEY.md §2.5: nothing streaming), so
these are beyond-reference capabilities expressed the idiomatic Spark
way: ``readStream`` → declarative transforms → ``writeStream`` with
watermarks for late data, plus an ``applyInPandasWithState`` stateful
operator that reproduces the panel-lag semantics incrementally.

Design notes for scale: streaming grouped aggregation keeps one state
row per (group, window); the watermark bounds state size by evicting
closed windows. The stateful lag keeps the last ``max_lag`` values per
entity — O(entities × max_lag) state, partitioned by entity across
executors.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hdfe_spark.sources.tables import load_table


def read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Generic file-source stream over a single-file fixture table
    (the `read_events_stream` symlink-directory trick, shared): the
    file-stream source requires a DIRECTORY, so the file is exposed
    through a cached temp dir of symlinks, swept at interpreter
    exit. No event-time normalization — `read_events_stream` wraps
    this helper and adds it for the events table. Without a ``schema``,
    ``table`` must be one of ``sources.tables.TABLES``: the schema is
    ``load_table``'s, inferred once per file per session."""
    import atexit
    import os
    import shutil
    import tempfile

    if schema is None:
        schema = load_table(spark, table, sf_dir).schema
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    cache = read_table_stream.__dict__.setdefault("_dirs", {})
    d = cache.get(src)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix=f"hdfe_{table}_stream_")
        os.symlink(src, os.path.join(d, f"{table}.parquet"))
        if not cache:
            atexit.register(
                lambda: [
                    shutil.rmtree(p, ignore_errors=True)
                    for p in cache.values()
                ]
            )
        cache[src] = d
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """File-source stream over the events fixture (one-file directory;
    ``maxFilesPerTrigger`` makes it incremental in tests)."""
    stream = read_table_stream(spark, sf_dir, "events", schema=schema)
    # Normalize event time to a real TIMESTAMP whatever physical type
    # the fixture generation wrote (event-time operators reject NTZ,
    # and ns arrives as long under nanosAsLong):
    #  - LongType ns → timestamp_micros(ts div 1000). Integer
    #    division: float division of ~1.7e18 ns loses sub-microsecond
    #    bits to the double mantissa and ROUNDS.
    #  - TIMESTAMP_NTZ (µs, isAdjustedToUTC=false under Spark 4's NTZ
    #    inference) → cast to TIMESTAMP. The cast interprets the wall
    #    clock in the session zone, so pin UTC first (matches
    #    load_table and the DuckDB oracle's naive-as-UTC epoch_us).
    dt = stream.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif isinstance(dt, T.TimestampNTZType):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_grouped_agg(
    stream: DataFrame,
    keys: Sequence[str] | str,
    value_col: str = "value",
    watermark_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming analogue of ``grouped_agg``: incremental partial
    aggregates per key; the watermark bounds late-data state."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    return (
        stream.withWatermark(watermark_col, watermark)
        .groupBy(*keys)
        .agg(
            F.avg(value_col).alias(f"mean_{value_col}"),
            F.sum(value_col).alias(f"sum_{value_col}"),
            F.count(value_col).alias(f"count_{value_col}"),
        )
    )


def streaming_windowed_agg(
    stream: DataFrame,
    keys: Sequence[str] | str,
    value_col: str = "value",
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling/sliding window aggregation with watermarked
    late-data handling — state per (key, window), evicted when the
    watermark passes the window end."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *keys)
        .agg(
            F.avg(value_col).alias(f"mean_{value_col}"),
            F.count(value_col).alias(f"count_{value_col}"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            f"mean_{value_col}",
            f"count_{value_col}",
        )
    )


def streaming_session_agg(
    stream: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native Spark session windows (the streaming form of
    ``operators.sessions.sessionize``): per-entity windows closer than
    ``gap`` are merged by the state store; the watermark closes
    sessions and evicts their state, so state is bounded by open
    sessions only. ``ts_col`` must be a true timestamp column (the
    events fixture's bigint-ns ``ts`` converts via
    ``timestamp_micros(ts div 1000)``)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sess"),
            F.col(entity_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(entity_col),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str] | str,
    watermark_col: str = "ts",
    watermark: str = "10 minutes",
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact dedup: emit only the first occurrence of each
    key combination.

    ``within_watermark=True`` (the 100 TB default) uses
    ``dropDuplicatesWithinWatermark``: state for a key is evicted once
    the watermark passes its event time, so state stays bounded on an
    infinite stream — at the cost that a key recurring later than the
    watermark delay is emitted again (the standard streaming-dedup
    contract). ``False`` uses plain ``dropDuplicates``: exact all-time
    dedup (matches batch ``DISTINCT``), state grows with distinct
    keys — only for bounded replays.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    s = stream.withWatermark(watermark_col, watermark)
    if within_watermark:
        return s.dropDuplicatesWithinWatermark(keys)
    return s.dropDuplicates(keys)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    ts_col: str = "ts",
    upper: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs
    with right events of the same key whose timestamp falls in
    ``[left_ts, left_ts + upper]``. The two-sided time bound plus the
    watermarks is exactly what lets Spark evict join state (left rows
    older than watermark+upper, right rows older than watermark can
    never match again), so state stays bounded on infinite streams —
    the canonical bounded stream-stream join shape. Returns the raw
    joined frame with both sides aliased ``l``/``r``; callers select
    qualified columns."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}") + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, "inner")


def streaming_lag_transform(
    stream: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    max_lag: int = 2,
) -> DataFrame:
    """Stateful panel lag over a stream: for each entity, emit each
    event with ``{value}_lag_1..max_lag`` computed from the last
    ``max_lag`` values seen — the incremental form of ``make_lags``
    (reference ``hdfe/hdfe.py:253-302``), via
    ``applyInPandasWithState``. State = deque of ``max_lag`` floats
    per entity.

    Caveat (documented): state updates assume per-entity event-time
    order within a micro-batch; rows are sorted by ``ts`` inside each
    batch, and cross-batch disorder is subject to the source's
    delivery order, as with any stateful stream without
    reordering buffers.
    """
    out_schema = T.StructType(
        [
            T.StructField(entity_col, T.LongType()),
            T.StructField(ts_col, T.TimestampType()),
            T.StructField(value_col, T.DoubleType()),
        ]
        + [
            T.StructField(f"{value_col}_lag_{i}", T.DoubleType())
            for i in range(1, max_lag + 1)
        ]
    )
    state_schema = T.StructType(
        [T.StructField("recent", T.ArrayType(T.DoubleType()))]
    )

    def update(key, pdfs, state: GroupState):
        recent = list(state.get[0]) if state.exists else []
        frames = []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col, kind="stable")
            lags = {i: [] for i in range(1, max_lag + 1)}
            for v in pdf[value_col]:
                for i in range(1, max_lag + 1):
                    lags[i].append(recent[-i] if len(recent) >= i else None)
                recent.append(float(v) if v is not None else None)
                if len(recent) > max_lag:
                    recent.pop(0)
            out = pdf[[entity_col, ts_col, value_col]].copy()
            for i in range(1, max_lag + 1):
                out[f"{value_col}_lag_{i}"] = pd.array(lags[i], dtype="float64")
            frames.append(out)
        state.update((recent,))
        yield from frames

    return stream.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: "Sequence[str] | str",
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch equi-joins the
    static dimension, explicitly broadcast — the canonical "attach
    metadata to an event stream" stage.

    Stateless (no watermark, no join state): Spark re-evaluates the
    static side per micro-batch, so a file-backed dimension picks up
    slowly-changing updates between batches. At scale the broadcast
    keeps the stream side shuffle-free; a dimension too big to
    broadcast belongs in a stream-stream join with watermarks instead
    (``streaming_interval_join``)."""
    on = [on] if isinstance(on, str) else list(on)
    return stream.join(F.broadcast(dim), on, how)


def streaming_upsert_sink(
    stream: DataFrame,
    spark: SparkSession,
    base_path: str,
    key: str,
    partition_col: str,
    order_cols: "list[str]",
    staging_root: str,
    checkpoint: str,
):
    """``foreachBatch`` keyed-MERGE sink: each micro-batch is reduced
    to its latest row per (partition_col, key) — intra-batch
    version resolution — then COW-merged into the partitioned parquet
    table via ``sources/upsert.py`` (same keys-never-migrate contract;
    here ``partition_col`` is part of the logical key, so it holds by
    construction).

    This is the streaming half of the MERGE story: the batch operator
    gets exactly-once *table state* per micro-batch while only
    rewriting partitions the batch touched. Restart safety comes from
    the checkpoint: a replayed batch re-merges the same keys —
    idempotent because merge is last-writer-wins by key."""
    from hdfe_spark.operators.dedup import latest_per_key
    from hdfe_spark.sources.upsert import merge_upsert_partitioned

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        latest = latest_per_key(batch, [partition_col, key], order_cols)
        merge_upsert_partitioned(
            spark,
            base_path,
            latest,
            key,
            partition_col,
            f"{staging_root}/b{batch_id}",
        )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_snapshot_sink(
    stream: DataFrame,
    spark: SparkSession,
    table_root: str,
    key_cols: "list[str]",
    order_cols: "list[str]",
    checkpoint: str,
):
    """``foreachBatch`` snapshot publisher: each micro-batch folds
    into the running keyed state (latest row per ``key_cols`` across
    everything seen so far) and publishes the WHOLE state as a new
    immutable snapshot version (``sources/snapshots.py``). The
    streaming capstone of the commit protocol: readers always see a
    complete consistent corpus version (never a half-applied batch),
    and time travel gives "the state as of micro-batch N" — the
    reproducible-training-corpus story with a stream feeding it.

    State carry is PREVIOUS-VERSION + batch → latest-per-key →
    publish: the previous snapshot is itself the checkpointed state,
    so the sink needs no Spark state store, and a REPLAYED batch
    (restart between publish and checkpoint commit) republished onto
    a state that already contains it is idempotent in content —
    last-writer-wins by ``order_cols`` reduces to the same rows; only
    the version number advances (orphan-equivalent, still correct).

    Scale: each publish rewrites the full state (full-snapshot
    layout); for 100 TB state the same sink shape swaps
    ``publish_snapshot`` for the partitioned MERGE
    (``streaming_upsert_sink``) plus a manifest commit — content
    protocol identical, bytes proportional to the delta."""
    from hdfe_spark.operators.dedup import latest_per_key
    from hdfe_spark.sources.snapshots import (
        current_version,
        publish_snapshot,
        read_snapshot,
    )

    def publish_batch(batch: DataFrame, batch_id: int) -> None:
        cur = current_version(table_root)
        merged = batch
        if cur is not None:
            prev = read_snapshot(spark, table_root, cur)
            merged = prev.unionByName(batch.select(*prev.columns))
        state = latest_per_key(merged, key_cols, order_cols)
        publish_snapshot(state, table_root)

    return (
        stream.writeStream.foreachBatch(publish_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_cms(stream: DataFrame, key_col: str, d: int = 4, n_hex: int = 2) -> DataFrame:
    """Count-Min sketch folded over a stream (the tenth streaming
    form): the sketch is a purely additive aggregate, so the
    micro-batch fold IS the sketch merge — complete-mode
    ``groupBy(j, bucket).count()`` over the hashed key stream yields
    exactly the batch `operators/sketch.py::cms_build` table,
    whatever the micro-batch boundaries were. Same portable
    md5-prefix hashing, so a SQL engine reproduces the folded sketch
    bit-for-bit. State is bounded by d × 16**n_hex counters
    regardless of stream length — the reason sketches are THE
    streaming summary structure."""
    from pyspark.sql import functions as F

    js = F.explode(F.array(*[F.lit(j) for j in range(d)])).alias("j")
    rows = stream.select(F.col(key_col).alias("__k"), js)
    bucket = F.substring(
        F.md5(F.concat_ws("#", F.col("__k"), F.col("j"))), 1, n_hex
    )
    return (
        rows.select("j", bucket.alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def streaming_constraint_metrics(stream: DataFrame, rules) -> DataFrame:
    """Twelfth streaming form: continuous data-quality monitoring —
    the `operators/validate.py::check_constraints` rule compiler
    applied to a stream. Every rule rides the same single
    complete-mode aggregation (counts and conditional counts are
    mergeable across micro-batches, so the final snapshot equals the
    batch report bit-for-bit); ``uniqueness`` swaps its exact
    countDistinct — which streaming aggregation rejects — for the
    mergeable HLL ``approx_count_distinct``, labeled
    ``uniqueness~approx(col)`` so a dashboard cannot mistake the
    estimate for the exact batch metric. At scale this is the
    ingest-gate pattern: one stateful aggregation whose state is a
    handful of counters per rule, regardless of stream volume."""
    from hdfe_spark.operators.validate import check_constraints

    return check_constraints(stream, rules, streaming=True)


def streaming_ewma(
    stream: DataFrame,
    entity_col: str = "user_id",
    order_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.5,
) -> DataFrame:
    """Streaming exponential moving average (thirteenth streaming
    form): per entity, the adjust=False recursion y = a*x + (1-a)*y
    folded incrementally across micro-batches via
    ``applyInPandasWithState`` — O(1) state per key (the smoothed
    value and a count), the incremental twin of the batch
    ``operators/stats.py::ewma`` fold. Emits one (entity, n, ewma)
    row per key per batch; the row with the largest n is the final
    state.

    Certificate contract: with an availableNow replay the fold order
    is the in-batch ``order_col`` sort, so the final state replays
    the batch fold's exact IEEE op sequence (CPython float and JVM
    double are both IEEE binary64) — the batch query IS the oracle.
    Cross-batch order follows source delivery, the standard stateful
    caveat (`streaming_lag_transform`)."""
    out_schema = T.StructType(
        [
            # take the key's REAL type from the stream schema — a
            # hardcoded LongType would break string/other entity keys
            T.StructField(
                entity_col, stream.schema[entity_col].dataType
            ),
            T.StructField("n", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("y", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    a = float(alpha)
    b = 1.0 - a

    def update(key, pdfs, state: GroupState):
        if state.exists:
            y, n = state.get
        else:
            y, n = None, 0
        # Concatenate BEFORE sorting: a key whose micro-batch spans
        # multiple Arrow chunks must fold in one global order_col
        # order — per-chunk sorts would interleave chunks in arrival
        # order and silently break the bit-exact batch-fold
        # certificate (repro: 12 rows at maxRecordsPerBatch=3).
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order_col, kind="stable")
        for v in pdf[value_col]:
            if v is None or pd.isna(v):
                continue
            v = float(v)
            y = v if n == 0 else a * v + b * y
            n += 1
        state.update((y, n))
        if n > 0:
            yield pd.DataFrame(
                {entity_col: [key[0]], "n": [n], "ewma": [y]}
            )

    return stream.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_anomaly(
    stream: DataFrame,
    entity_col: str = "user_id",
    order_col: str = "event_id",
    value_col: str = "value",
    z: int = 3,
    min_n: int = 10,
    scale: float = 1e3,
) -> DataFrame:
    """Streaming z-score anomaly counter (fourteenth streaming
    form): per entity, each arriving value is tested against the
    running mean/variance of the values BEFORE it, and the state
    counts how many were anomalous — the online data-quality monitor
    (`streaming_dq` checks constraints; this checks distribution).

    Exactness (why this certifies, unlike textbook Welford): the
    state is the exact integer triple (n, s=sum u, q=sum u^2) of
    u = round(value*scale), and the test cross-multiplies so no
    division or float ever enters:

        (n*u - s)^2 > z^2 * (n*q - s^2)   [prev-row n, s, q]

    evaluated in arbitrary-precision Python ints. A batch engine
    replays the identical decision from cumulative integer sums
    (windowed integer cumsums ARE order-free-exact), so the
    availableNow final state equals the batch count bit-for-bit —
    no IEEE sequencing contract needed at all, stronger than the
    ewma fold certificate. State storage is two longs: the contract
    is sum(u^2) < 2^63 per key (|value|*scale <= 1e6 for ~1e7 rows
    per key; widen scale down or shard keys past that).

    Emits one (entity, n, n_anomalies) row per key per batch; the
    row with the largest n is the final state. In-batch order is the
    ``order_col`` sort (concat-then-sort, the streaming_ewma
    lesson); cross-batch order follows source delivery, the standard
    stateful caveat."""
    out_schema = T.StructType(
        [
            T.StructField(
                entity_col, stream.schema[entity_col].dataType
            ),
            T.StructField("n", T.LongType()),
            T.StructField("n_anomalies", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.LongType()),
            T.StructField("q", T.LongType()),
            T.StructField("na", T.LongType()),
        ]
    )
    z2 = int(z) * int(z)
    mn = int(min_n)
    sc = float(scale)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, s, q, na = state.get
        else:
            n, s, q, na = 0, 0, 0, 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order_col, kind="stable")
        for v in pdf[value_col]:
            if v is None or pd.isna(v):
                continue
            u = int(math.floor(float(v) * sc + 0.5))
            if n >= mn and (n * u - s) ** 2 > z2 * (n * q - s * s):
                na += 1
            n += 1
            s += u
            q += u * u
        state.update((n, s, q, na))
        if n > 0:
            yield pd.DataFrame(
                {
                    entity_col: [key[0]],
                    "n": [n],
                    "n_anomalies": [na],
                }
            )

    return stream.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )



def streaming_funnel(
    stream: DataFrame,
    entity_col: str,
    order_col: str,
    type_col: str,
    steps: "Sequence[str]",
) -> DataFrame:
    """Streaming funnel progress (fifteenth streaming form): per
    entity, the greedy-earliest completion of ``steps`` in sequence,
    advanced incrementally across micro-batches with O(k) state per
    key — the live twin of the batch `operators/sessions.py::funnel`
    ("how far down view → click → buy is each user RIGHT NOW?").

    State is the completed-prefix timestamp vector (t_1..t_k): an
    arriving event advances the walk iff its type is the NEXT needed
    step and its order is strictly after the last completed step.
    Greedy-earliest is optimal for unconstrained sequence
    containment (the batch operator's proof), and the incremental
    greedy walk consumes events in the same order the batch walk
    reads them, so with an availableNow replay the final state per
    key EQUALS the batch funnel's row — the batch query is the
    oracle (the streaming_ewma contract). The windowed (``within``)
    batch mode is deliberately NOT offered here: it requires
    retaining every step-1 anchor, which is unbounded state.
    Cross-batch order follows source delivery, the standard stateful
    caveat (`streaming_lag_transform`).

    Emits one (entity, steps_completed, t_1..t_k) row per key per
    batch; the row with the largest steps_completed (any batch) is
    current progress."""
    if not steps or len(steps) < 2:
        raise ValueError("streaming_funnel: needs >= 2 steps")
    k = len(steps)
    step_of = {s: i for i, s in enumerate(steps)}
    if len(step_of) != k:
        raise ValueError("streaming_funnel: steps must be distinct")
    out_schema = T.StructType(
        [
            T.StructField(
                entity_col, stream.schema[entity_col].dataType
            ),
            T.StructField("steps_completed", T.LongType()),
            *[
                T.StructField(f"t_{i + 1}", T.LongType())
                for i in range(k)
            ],
        ]
    )
    state_schema = T.StructType(
        [T.StructField(f"t{i}", T.LongType()) for i in range(k)]
    )

    def update(key, pdfs, state: GroupState):
        ts = list(state.get) if state.exists else [None] * k
        # one global order_col sort per key per batch — the
        # multi-chunk lesson from streaming_ewma
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order_col, kind="stable")
        done = sum(1 for t in ts if t is not None)
        for o, typ in zip(pdf[order_col], pdf[type_col]):
            if o is None or pd.isna(o) or done >= k:
                continue
            if step_of.get(typ) != done:
                continue
            o = int(o)
            if done > 0 and not (o > ts[done - 1]):
                continue
            ts[done] = o
            done += 1
        state.update(tuple(ts))
        if done > 0:
            yield pd.DataFrame(
                [[key[0], done, *ts]],
                columns=[
                    entity_col,
                    "steps_completed",
                    *[f"t_{i + 1}" for i in range(k)],
                ],
            )

    return (
        stream.select(entity_col, order_col, type_col)
        .groupBy(entity_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_transitions(
    stream: DataFrame,
    entity_col: str = "user_id",
    order_col: str = "event_id",
    state_col: str = "event_type",
) -> DataFrame:
    """Streaming Markov transition counter (sixteenth streaming
    form): the incremental twin of `operators/sessions.py::
    event_transitions`. Per entity, ``applyInPandasWithState``
    keeps only the LAST seen (order, state) — O(1) state per key —
    and each micro-batch emits that key's new transition pairs as
    (src, dst, n) delta rows, including the BRIDGE transition from
    the previous batch's final state into this batch's first event.
    Summing the deltas by (src, dst) downstream reproduces the
    batch operator's counts exactly (integer equality — the
    strongest availableNow-equals-batch certificate form, no float
    anywhere).

    Cross-batch order follows source delivery (the standard
    stateful caveat — `streaming_ewma`); within a micro-batch rows
    fold in ``order_col`` order, so an availableNow replay IS the
    batch pairing. Duplicate order values within a key raise, and
    an out-of-order arrival ACROSS batches (new row ordered before
    the stored last state) also raises rather than silently pairing
    backwards — a batch-only operator would have sorted it
    correctly, so the stream must refuse to diverge. NULL
    order/state rows are dropped (the batch operator's exclusion
    rule); NULL entities are dropped by the groupBy key itself."""
    out_schema = T.StructType(
        [
            T.StructField("src", stream.schema[state_col].dataType),
            T.StructField("dst", stream.schema[state_col].dataType),
            T.StructField("n", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("o", stream.schema[order_col].dataType),
            T.StructField("s", stream.schema[state_col].dataType),
        ]
    )

    def update(key, pdfs, state: GroupState):
        if key[0] is None:
            return
        # concat BEFORE sorting (the streaming_ewma chunk lesson)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf[
            pdf[order_col].notna() & pdf[state_col].notna()
        ].sort_values(order_col, kind="stable")
        if len(pdf) == 0:
            return
        orders = pdf[order_col].tolist()
        if len(set(orders)) != len(orders):
            raise ValueError(
                "streaming_transitions: duplicate order values "
                f"within entity {key[0]!r} — the pairing would be "
                "engine-dependent"
            )
        states = pdf[state_col].tolist()
        if state.exists:
            last_o, last_s = state.get
            if orders[0] <= last_o:
                raise ValueError(
                    "streaming_transitions: out-of-order arrival "
                    f"for entity {key[0]!r} (order {orders[0]!r} "
                    f"after state at {last_o!r}) — a batch sort "
                    "would have paired differently"
                )
            orders = [last_o] + orders
            states = [last_s] + states
        counts: dict = {}
        for a, b in zip(states, states[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
        state.update((orders[-1], states[-1]))
        if counts:
            yield pd.DataFrame(
                {
                    "src": [k[0] for k in counts],
                    "dst": [k[1] for k in counts],
                    "n": list(counts.values()),
                }
            )

    return stream.groupBy(entity_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hll(stream: DataFrame, key_col: str, b: int = 8) -> DataFrame:
    """Deterministic HyperLogLog folded over a stream (the
    seventeenth streaming form): the HLL merge rule is a per-bucket
    MAX of rho — order-free and idempotent, so a complete-mode
    ``groupBy(bucket).max(rho)`` equals the batch sketch's bucket
    table BIT-FOR-BIT whatever the micro-batch boundaries were (the
    `streaming_cms` argument, with max instead of add; duplicate
    re-delivery cannot even inflate it, unlike a counter sketch).
    Hashing is the shared `sketch._hll_bucket_rho` spelling, so the
    stream state, the batch operator, and the SQL oracle all agree
    bit-exactly.

    Returns the (``__bkt``, ``__mx``) state stream; finalize a sink
    snapshot with `sketch.hll_finalize` (one <= 2**b-row batch
    aggregation producing the s33/est row). The exact n_exact
    certificate of the batch sketch has no streaming form —
    count_distinct state is the key universe, the thing a sketch
    exists to avoid; state here is <= 2**b counters forever.
    """
    from hdfe_spark.operators.sketch import _hll_bucket_rho

    bucket, rho = _hll_bucket_rho(key_col, b)
    return (
        stream.filter(F.col(key_col).isNotNull())
        .select(bucket.alias("__bkt"), rho.alias("__rho"))
        .groupBy("__bkt")
        .agg(F.max("__rho").alias("__mx"))
    )


def streaming_rake(
    stream: DataFrame,
    text_col: str = "text",
    stopwords=None,
    min_freq: int = 1,
) -> DataFrame:
    """RAKE keyword statistics folded over a document stream (the
    eighteenth streaming form): the phrase derivation is stateless
    row expressions (shared `text._rake_words` spelling) and both
    aggregates are purely ADDITIVE (freq = count, deg = sum of
    phrase lengths), so the complete-mode micro-batch fold equals
    the batch `rake_keywords` table EXACTLY whatever the batch
    boundaries — the `streaming_cms` argument. State is one
    (freq, deg) counter pair per distinct word. The score division
    and the min_freq cut ride the OUTPUT projection, so they never
    touch state."""
    from hdfe_spark.operators.text import rake_keywords

    # the batch operator IS streaming-safe end to end (stateless
    # row expressions + additive aggregates + post-agg projection),
    # so delegate — a copied body would silently diverge from the
    # batch semantics this form's whole contract is equality with
    return rake_keywords(
        stream, text_col, stopwords=stopwords, min_freq=min_freq
    )


def streaming_confusion(
    stream: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Streaming model-quality monitor (the nineteenth streaming
    form): confusion counts folded over a prediction stream. The
    four counters are purely ADDITIVE integer conditional sums and
    the derived metrics (accuracy/precision/recall/f1) ride the
    post-aggregation OUTPUT projection, so the complete-mode
    availableNow fold equals the batch `ml.confusion_stats` row
    EXACTLY whatever the micro-batch boundaries — the
    `streaming_rake`/`streaming_cms` additivity argument. State is
    four counters. Delegates to the batch operator outright: a
    copied body could silently diverge from the batch semantics
    this form's whole contract is equality with."""
    from hdfe_spark.operators.ml import confusion_stats

    return confusion_stats(stream, label_col, pred_col)


def streaming_gopher(stream: DataFrame, **kwargs) -> DataFrame:
    """Streaming quality gate (the twentieth streaming form): the
    Gopher rules applied to documents AS THEY ARRIVE — the C4/Gopher
    filter a crawl-ingest pipeline runs before anything lands.
    `text.gopher_rules` is stateless row expressions end to end
    (no aggregation, no window), so it is streaming-safe in APPEND
    mode and an availableNow replay emits exactly the batch rows —
    the strongest equality form there is, no state to reconcile.
    Delegates outright: a copied body could silently diverge from
    the batch semantics this form's whole contract is equality
    with."""
    from hdfe_spark.operators.text import gopher_rules

    return gopher_rules(stream, **kwargs)


def streaming_brier(
    stream: DataFrame, label_col: str, prob_col: str, qbits: int = 30
) -> DataFrame:
    """Streaming probabilistic-quality monitor (the twenty-first
    streaming form): the quantized Brier score folded over a
    prediction stream. The quantized term sum and the row count are
    both ADDITIVE and the final division rides the output
    projection, so the complete-mode availableNow fold equals the
    batch `ml.brier_score` row EXACTLY whatever the micro-batch
    boundaries. State is two counters. Delegates outright (the
    `streaming_confusion` argument)."""
    from hdfe_spark.operators.ml import brier_score

    return brier_score(stream, label_col, prob_col, qbits=qbits)


def streaming_welch(
    stream: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Streaming experiment monitor (the TWENTY-THIRD streaming
    form): per-segment Welch two-sample t between two arms, folded
    over an assignment/metric stream in complete mode — the
    per-(segment, arm) moment counters (n, exact decimal sum, sum of
    squares) are ADDITIVE and t/dof/means ride the output
    projection, so the availableNow fold equals the batch
    `stats.welch_by` table EXACTLY whatever the micro-batch
    boundaries: the always-on "is any experiment segment moving?"
    dashboard. State is six counters per segment. Delegates outright
    (the `streaming_confusion` argument)."""
    from hdfe_spark.operators.stats import welch_by

    return welch_by(
        stream, group_col, arm_col, value_col, arm_a, arm_b,
        scale=scale,
    )


def streaming_ece(
    stream: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
    qbits: int = 20,
) -> DataFrame:
    """Streaming calibration monitor (the twenty-second streaming
    form): reliability-diagram bins folded over a prediction stream
    in complete mode — the per-bin counters (n, n_pos, quantized
    confidence sum) are ADDITIVE and conf/acc/gap ride the output
    projection, so the availableNow fold equals the batch
    `ml.calibration_bins` table exactly whatever the micro-batch
    boundaries. State is three counters per non-empty bin (<=
    n_bins rows). Delegates outright (the `streaming_confusion`
    argument)."""
    from hdfe_spark.operators.ml import calibration_bins

    return calibration_bins(
        stream, label_col, prob_col, n_bins=n_bins, qbits=qbits
    )


def streaming_did(
    stream: DataFrame, y: str, treat: str, post: str
) -> DataFrame:
    """Streaming experiment monitor (the TWENTY-FOURTH streaming
    form): the 2×2 difference-in-differences panel folded over an
    assignment/outcome stream in complete mode — the four cell sums
    (exact when y is DECIMAL) and four non-NULL-outcome counts are
    ADDITIVE, and the cell means and the ATT ride the output
    projection, so the availableNow fold equals the batch
    `causal.did` row EXACTLY whatever the micro-batch boundaries:
    the always-on "did the launch move the treated arm?" dashboard.
    State is eight counters total. Delegates outright (the
    `streaming_confusion` argument)."""
    from hdfe_spark.operators.causal import did

    return did(stream, y, treat, post)


def streaming_cuped(
    stream: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    covariate_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Streaming CUPED monitor (the TWENTY-FIFTH streaming form):
    per-segment variance-reduced treatment effect folded over an
    assignment/metric stream in complete mode. Every input to
    `stats.cuped_by` is an ADDITIVE per-(segment[, arm]) counter
    (counts + exact decimal sums of y, x, x², xy, y²), and
    theta/diff/rho² ride the output projection, so the availableNow
    fold equals the batch table EXACTLY whatever the micro-batch
    boundaries — the always-on "is the adjusted effect moving?"
    dashboard next to `streaming_welch`'s t panel. State is twelve
    counters per segment. Delegates outright (the
    `streaming_confusion` argument)."""
    from hdfe_spark.operators.stats import cuped_by

    return cuped_by(
        stream, group_col, arm_col, value_col, covariate_col,
        arm_a, arm_b, scale=scale,
    )


def streaming_msprt(
    stream: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    tau2: float = 1.0,
    scale: float = 1e6,
) -> DataFrame:
    """Streaming always-valid mSPRT monitor (the TWENTY-SIXTH
    streaming form): per-segment mixture-SPRT p-value folded over an
    assignment/metric stream in complete mode — the ONE panel that
    is actually licensed for continuous reading: `streaming_welch`'s
    t/p inflates alpha under peeking, the mixture-SPRT bound does
    not (Johari et al. 2017; the sequential decision takes the
    running min of p over looks downstream). Every input to
    `stats.msprt_by` is an ADDITIVE per-(segment, arm) counter
    (counts + exact decimal Σv, Σv²), and Λ/p ride the output
    projection, so the availableNow fold equals the batch table
    EXACTLY whatever the micro-batch boundaries. State is six
    counters per segment. Delegates outright (the
    `streaming_confusion` argument)."""
    from hdfe_spark.operators.stats import msprt_by

    return msprt_by(
        stream, group_col, arm_col, value_col, arm_a, arm_b,
        tau2=tau2, scale=scale,
    )


def streaming_srm(
    stream: DataFrame,
    group_col: str,
    cat_col: str,
    probs: dict,
) -> DataFrame:
    """Streaming sample-ratio-mismatch monitor (the TWENTY-SEVENTH
    streaming form): per-experiment chi-squared goodness-of-fit
    against the DESIGNED assignment split, folded over the live
    assignment stream in complete mode — the first thing an
    experimentation platform watches continuously, because a
    mismatched ramp invalidates every downstream readout before any
    metric moves. Every `stats.chi2_gof_by` input is an ADDITIVE
    per-(group, category) counter and chi2/dof ride the output
    projection, so the availableNow fold equals the batch table
    EXACTLY whatever the micro-batch boundaries; out-of-design
    categories raise in-plan, streaming included. State is k
    counters per group. Delegates outright (the
    `streaming_confusion` argument)."""
    from hdfe_spark.operators.stats import chi2_gof_by

    return chi2_gof_by(stream, group_col, cat_col, probs)


def streaming_wilson(
    stream: DataFrame,
    group_col: str,
    success_col: str,
    alpha: float = 0.05,
    crit: "float | None" = None,
) -> DataFrame:
    """Streaming per-group Wilson score interval (the TWENTY-EIGHTH
    streaming form): live success-rate monitoring with the interval
    that actually holds coverage at small n and extreme rates —
    what a launch dashboard should show while counts accumulate,
    because the Wald interval collapses to zero width exactly when
    the early read is most dangerous. Every `stats.wilson_ci_by`
    input is an ADDITIVE per-group (n, successes) counter and the
    interval rides the output projection, so the availableNow fold
    equals the batch table EXACTLY whatever the micro-batch
    boundaries; out-of-design success values raise in-plan,
    streaming included. State is two counters per group. Delegates
    outright (the `streaming_confusion` argument)."""
    from hdfe_spark.operators.stats import wilson_ci_by

    return wilson_ci_by(stream, group_col, success_col,
                        alpha=alpha, crit=crit)


def streaming_cohens(
    stream: DataFrame,
    group_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    scale: float = 1e6,
) -> DataFrame:
    """Streaming per-group standardized effect size (the
    TWENTY-NINTH streaming form): Cohen's d + Hedges g folded over
    the live metric stream in complete mode — the dashboard readout
    that says "big enough to ship", continuously, beside
    `streaming_welch`'s "not noise". Every `stats.cohens_d_by`
    input is an ADDITIVE per-(group, arm) counter triple
    (n, Σu, Σu²) over exact DECIMAL(38,0) scaled integers, and
    d/g ride the output projection, so the availableNow fold equals
    the batch table EXACTLY whatever the micro-batch boundaries.
    State is six decimals per group. Delegates outright (the
    `streaming_confusion` argument)."""
    from hdfe_spark.operators.stats import cohens_d_by

    return cohens_d_by(stream, group_col, arm_col, value_col,
                       arm_a, arm_b, scale=scale)
