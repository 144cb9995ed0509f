"""Incremental (streaming) pipeline stages.

The reference's incremental story is a daily Airflow schedule dropping
timestamped files (dags/etl_retail_pipeline.py:97, extract.py:64-66) —
i.e., micro-batch by convention.  Structured Streaming upgrades this:
the same silver-cleaning and windowed-aggregation plans run as
streaming queries with exactly-once file sinks, watermarked late-data
handling, and in-stream deduplication — none of which the reference can
express.

- stream_events      : file-source readStream with the pinned schema
- silver_stream      : cleaning plan -> parquet sink, Trigger.AvailableNow
                       (processes whatever has landed, then stops — the
                       batch-cron replacement)
- windowed_stream    : watermark + tumbling window agg (same window
                       semantics as operators/events.windowed_event_stats)
- dedup_stream       : dropDuplicatesWithinWatermark on event_id

Scale notes: the file source lists incrementally (maxFilesPerTrigger
governs batch size); state for window aggs / dedup is bounded by the
watermark horizon, not stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import hadoop_fs

# Pinned source schema for the events stream.  The fixture stores ts as
# parquet TIMESTAMP (micros); pinning TIMESTAMP_NTZ mirrors the batch
# reader exactly (sources/readers.read_events guards on the actual
# dtype, so both paths agree on event time).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream over a directory of events parquet files."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    # Watermarks require TIMESTAMP (LTZ); with the session pinned to UTC
    # the NTZ -> LTZ cast is an identity on the stored values.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def silver_stream(
    events: DataFrame, output_dir: str, checkpoint_dir: str
):
    """Streaming bronze->silver: clean + date-partitioned parquet sink.

    Trigger.AvailableNow = process everything currently available and
    stop — the idiomatic replacement for the reference's daily batch
    task, with exactly-once bookkeeping in the checkpoint."""
    cleaned = events.select(
        "event_id",
        "ts",
        F.to_date("ts").alias("date"),
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        "user_id",
    )
    return (
        cleaned.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("date")
        .trigger(availableNow=True)
        .start()
    )


def windowed_stream(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregate (append-able output).

    The 2-hour watermark bounds state: windows older than the horizon
    are finalized and dropped from the state store."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """In-stream exact dedup on event_id within the watermark horizon —
    the streaming upgrade of the reference's duplicate *check* (Q2)."""
    return events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )


SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)

# state: open session bounds in epoch micros + running aggregates
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("val", T.DoubleType()),
    ]
)


def stateful_sessions(
    events: DataFrame, gap_seconds: int = 1800, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user gap-based sessions that EMIT as they close (the streaming
    form of operators/events.sessionize).

    State per user is one open session (4 scalars); an event-time
    timeout at session_end + gap flushes sessions that can no longer
    grow once the watermark passes.  State size is O(active users),
    bounded regardless of stream length — the applyInPandasWithState
    contract the reference's daily-batch design can't express."""
    import pandas as pd  # noqa: F401 (imported for the worker closure)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        closed: list[tuple] = []

        def emit(start_us: int, end_us: int, n: int, val: float):
            closed.append(
                (
                    user_id,
                    pd.Timestamp(start_us, unit="us"),
                    pd.Timestamp(end_us, unit="us"),
                    n,
                    float(val),
                )
            )

        if state.hasTimedOut:
            if state.exists:
                s, e, n, v = state.get
                emit(s, e, n, v)
                state.remove()
        else:
            ev = pd.concat(list(pdfs), ignore_index=True)
            ev = ev.sort_values(["ts", "event_id"])
            ts_us = ev["ts"].astype("int64") // 1000  # ns -> us
            vals = ev["value"].fillna(0.0)
            if state.exists:
                s, e, n, v = state.get
            else:
                s = e = n = v = None
            for t, val in zip(ts_us, vals):
                if s is None:
                    s, e, n, v = int(t), int(t), 1, float(val)
                elif t - e > gap_us:
                    emit(s, e, n, v)
                    s, e, n, v = int(t), int(t), 1, float(val)
                else:
                    e, n, v = int(t), n + 1, v + float(val)
            if s is not None:
                state.update((s, e, n, v))
                # flush once the watermark passes the gap horizon; the
                # timeout must sit strictly above the current watermark
                # (events near/behind it would otherwise throw)
                horizon = e // 1000 + gap_seconds * 1000
                state.setTimeoutTimestamp(
                    max(horizon, state.getCurrentWatermarkMs() + 1)
                )
        if closed:
            yield pd.DataFrame(
                closed, columns=[f.name for f in SESSION_OUT_SCHEMA.fields]
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def _versioned_overwrite_uri(
    df: DataFrame, target_dir: str, batch_id: int
) -> None:
    """Never-see-partial commit for URI targets, where POSIX
    symlink-``os.replace`` doesn't exist: write a FRESH
    ``<dir>.v{batch}[r{n}]`` directory, then flip the tiny
    ``<dir>._CURRENT`` pointer file in ONE single-object write —
    atomic on object stores (an S3 PUT commits atomically, strongly
    consistent) and on HDFS (create+close of a small file).  Readers
    resolve the pointer via :func:`resolve_table_dir` /
    :func:`read_table` and see either the old version or the new one.
    A crash before the pointer write leaves unreferenced garbage only;
    a replayed batch id picks a fresh ``r{n}`` suffix, never writing
    into a directory the live pointer may name (same crash-replay
    reasoning as the POSIX branch below).  Retention mirrors the POSIX
    branch: current + immediately-previous versions are kept, older
    ones purged.  (The boto3 twin for driver-side layer promotion is
    ``sources/object_store.py::publish_layer``.)"""
    jvm, fs = hadoop_fs(df.sparkSession, target_dir)
    jpath = jvm.org.apache.hadoop.fs.Path
    vdir, retry = f"{target_dir}.v{batch_id}", 0
    while fs.exists(jpath(vdir)):
        retry += 1
        vdir = f"{target_dir}.v{batch_id}r{retry}"
    df.write.mode("overwrite").parquet(vdir)
    pointer = jpath(f"{target_dir}.{_POINTER_NAME}")
    prev = _read_pointer(fs, jpath, target_dir)
    out = fs.create(pointer, True)  # single small object — atomic flip
    out.write(bytearray(vdir.encode()))
    out.close()
    # retention: keep {new, previous}, purge older versioned dirs.
    # Compare NORMALIZED Path strings (Path("file:///x") prints
    # "file:/x" — raw-string comparison would purge the live previous)
    keep = {jpath(k).toString() for k in (vdir, prev) if k}
    parent = jpath(target_dir).getParent()
    base = jpath(target_dir).getName()
    for status in fs.globStatus(jpath(parent, base + ".v*")) or []:
        p = status.getPath()
        if status.isDirectory() and p.toString() not in keep:
            fs.delete(p, True)


_POINTER_NAME = "_CURRENT"


def _read_pointer(fs, jpath, target_dir: str) -> str | None:
    pointer = jpath(f"{target_dir}.{_POINTER_NAME}")
    if not fs.exists(pointer):
        return None
    stream = fs.open(pointer)
    try:
        data = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            data.append(b)
        return data.decode()
    finally:
        stream.close()


def resolve_table_dir(spark: SparkSession, target_dir: str) -> str:
    """Where readers of a ``_versioned_overwrite`` sink should point:
    POSIX targets resolve through the symlink transparently (the
    symlink IS the pointer); URI targets resolve the ``._CURRENT``
    pointer file, falling back to ``target_dir`` if nothing was ever
    published."""
    if "://" not in target_dir:
        return target_dir
    jvm, fs = hadoop_fs(spark, target_dir)
    jpath = jvm.org.apache.hadoop.fs.Path
    return _read_pointer(fs, jpath, target_dir) or target_dir


def read_table(spark: SparkSession, target_dir: str) -> DataFrame:
    """Pointer-resolving read of a ``_versioned_overwrite`` sink."""
    return spark.read.parquet(resolve_table_dir(spark, target_dir))


def _versioned_overwrite(df: DataFrame, target_dir: str, batch_id: int) -> None:
    """Write ``df`` to a fresh versioned directory and swap it in with
    an atomic symlink ``os.replace`` — readers resolving ``target_dir``
    see either the old or the new table, never a partial one.  On
    object-store URIs (no POSIX rename) the same guarantee comes from
    the ``._CURRENT`` pointer-file scheme
    (:func:`_versioned_overwrite_uri`); readers go through
    :func:`read_table`."""
    if "://" in target_dir:
        _versioned_overwrite_uri(df, target_dir, batch_id)
        return
    import os
    import shutil

    # Crash-replay safety: if a crash landed after the symlink swap but
    # before the streaming checkpoint committed, the replayed batch
    # reuses the same batch_id — and target.v{batch_id} is then the
    # LIVE symlink target that the lazily-planned input DataFrame may
    # still scan.  Writing (mode overwrite deletes first) into it would
    # corrupt the live table / crash the read.  Pick a fresh suffix
    # instead of ever reusing an existing version directory.
    vdir = os.path.abspath(f"{target_dir}.v{batch_id}")
    live = (
        os.path.realpath(target_dir) if os.path.islink(target_dir) else None
    )
    retry = 0
    while os.path.exists(vdir) or vdir == live:
        retry += 1
        vdir = os.path.abspath(f"{target_dir}.v{batch_id}r{retry}")
    df.write.mode("overwrite").parquet(vdir)
    swap = f"{target_dir}.swap"
    if os.path.lexists(swap):
        os.remove(swap)
    os.symlink(vdir, swap)
    prev = None
    if os.path.islink(target_dir):
        prev = os.path.realpath(target_dir)
    elif os.path.exists(target_dir):
        # one-time migration of a plain directory (brief window where
        # target_dir is absent; every later swap is atomic)
        prev = target_dir + ".migrated"
        os.rename(target_dir, prev)
    os.replace(swap, target_dir)  # atomic symlink swap
    # Retention: keep the immediately-previous version (in-flight
    # readers hold its files; read_version addresses it for time
    # travel); purge anything older.  A one-time plain-dir migration
    # artifact is deleted outright.
    if prev and prev.endswith(".migrated"):
        shutil.rmtree(prev, ignore_errors=True)
        prev = None
    keep = {os.path.abspath(vdir)}
    if prev:
        keep.add(os.path.abspath(os.path.realpath(prev)))
    parent = os.path.dirname(os.path.abspath(target_dir)) or "."
    base = os.path.basename(target_dir)
    for f in os.listdir(parent):
        if not f.startswith(base + ".v"):
            continue
        p = os.path.abspath(os.path.join(parent, f))
        if p not in keep and os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def gold_stream(
    events: DataFrame, gold_dir: str, checkpoint_dir: str
):
    """Streaming gold maintenance: the daily (event_date, event_type)
    aggregate kept current as files land, via ``foreachBatch`` — the
    incremental form of the reference's daily create_gold_layer task
    (scripts/load.py:137-180 recomputes gold from scratch every run).

    Complete output mode: streaming state holds the FULL aggregate —
    bounded by days x event types, not stream length — and each
    micro-batch updates only the groups the new files touch, then the
    cardinality-bounded result replaces the gold parquet.  At 100 TB
    of events the state is still calendar-sized; the sink rewrite cost
    is O(gold), never O(stream).

    Sink atomicity: on a LOCAL filesystem each batch writes to a fresh
    versioned directory and swaps it in with an atomic symlink
    ``os.replace`` — readers resolving ``gold_dir`` see either the old
    or the new table, never a partial one (the only non-atomic window
    is the one-time migration of a pre-existing plain directory to the
    symlink scheme).  On URI targets the same guarantee comes from the
    ``._CURRENT`` pointer-file commit (``_versioned_overwrite_uri``);
    readers go through ``read_table``/``resolve_table_dir``."""

    def overwrite_gold(batch_df: DataFrame, batch_id: int) -> None:
        _versioned_overwrite(batch_df, gold_dir, batch_id)

    daily = (
        events.groupBy(
            F.to_date("ts").alias("event_date"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("sum_value"),
        )
    )
    return (
        daily.writeStream.outputMode("complete")
        .foreachBatch(overwrite_gold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
):
    """Drive a streaming DataFrame to completion against the in-memory
    sink (test harness): processAllAvailable + stop, then read the
    result table with spark.sql."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def near_dup_stream(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    threshold: float = 0.5,
):
    """Streaming near-dup ingest: as document files land, match each
    micro-batch against the ACCUMULATED corpus and emit
    (new_doc_id, old_doc_id, jaccard) pairs — the streaming form of
    ``dedup.incremental_near_dups``.

    Each batch does two bounded pieces of work:
    - batch × corpus via the ASYMMETRIC band join (old-old pairs never
      generated — per-batch cost scales with the batch, not the
      corpus);
    - batch × batch via the self-join pipeline (the new docs must also
      be deduped against each other).
    Their union is exactly the pair set a full self-join over the final
    corpus would produce restricted to pairs touching this batch, so
    across all batches every near-dup pair is emitted exactly once
    (equivalence-tested against ``near_dup_pairs`` on the full corpus).

    Sinks are append-only parquet (pairs + corpus); exactly-once comes
    from the checkpoint — a replayed batch appends the same rows
    (idempotent for downstream dedup-by-pair consumers).  At
    production scale the corpus side's signatures are precomputed and
    stored instead of re-derived per batch (the operator docstring
    covers that evolution); the STREAM's state itself is empty — all
    accumulation lives in the corpus sink."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import dedup

    corpus_dir = os.path.join(work_dir, "corpus")
    pairs_dir = os.path.join(work_dir, "pairs")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch = batch_df.persist()
        try:
            have_corpus = os.path.isdir(corpus_dir) and any(
                f.endswith(".parquet") for f in os.listdir(corpus_dir)
            )
            if have_corpus:
                old = sp.read.parquet(corpus_dir)
                flagged = old.withColumn(
                    "_nf", F.lit(False)
                ).unionByName(batch.withColumn("_nf", F.lit(True)))
                inc = dedup.incremental_near_dups(
                    flagged, "_nf", threshold=threshold
                )
                inc.write.mode("append").parquet(pairs_dir)
                release_cached(inc)
            intra = dedup.near_dup_pairs(batch, threshold=threshold)
            (
                intra.select(
                    F.greatest("doc_a", "doc_b").alias("new_doc_id"),
                    F.least("doc_a", "doc_b").alias("old_doc_id"),
                    "jaccard",
                )
                .write.mode("append")
                .parquet(pairs_dir)
            )
            release_cached(intra)
            batch.write.mode("append").parquet(corpus_dir)
        finally:
            batch.unpersist()

    stream = (
        spark.readStream.schema(DOCS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def hll_sketch_stream(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
):
    """Streaming distinct-user sketch maintenance: per-event_type HLL
    REGISTER DELTAS appended as event files land, estimates merged at
    read time — the streaming form of ``sketches.hll_distinct``.

    Each micro-batch writes only its own register table (at most
    |event_types| x 256 rows — constant, independent of batch size),
    into an APPEND-ONLY parquet sink: append is the idempotent-friendly
    sink mode (a replayed batch re-appends registers whose read-time
    MAX-merge is a no-op), and the mergeable-sketch law
    ``M = max(M_batch1, M_batch2, ...)`` makes the read-time combine
    EXACTLY the sketch a single pass over all data would build —
    equivalence-tested against batch ``hll_distinct``.

    This is the pattern that matters at 100 TB: per-day register
    snapshots roll up to any date range without rescanning events, and
    the state the stream carries is ZERO (all accumulation lives in the
    sink; compaction = read + max-merge + rewrite, cardinality-bounded).

    Returns the started query; read estimates afterwards with
    ``hll_stream_estimates``.
    """
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.functions import sketches

    reg_dir = os.path.join(work_dir, "registers")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        regs = sketches.hll_registers(batch_df, "user_id", ["event_type"])
        regs.write.mode("append").parquet(reg_dir)

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )
    # Advertise the active stream so compact_registers refuses to run
    # concurrently (its two-rename swap would drop deltas appended
    # mid-compaction).  The lock is cleared when the query terminates.
    import threading

    os.makedirs(work_dir, exist_ok=True)
    lock = os.path.join(work_dir, "stream.active")
    with open(lock, "w") as fh:
        fh.write("hll_sketch_stream")
    q = (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    # record the query id so compact_registers can distinguish a LIVE
    # stream (refuse) from a stale lock left by a crash (proceed)
    with open(lock, "w") as fh:
        fh.write(f"hll_sketch_stream:{q.id}")

    def _clear() -> None:
        try:
            q.awaitTermination()
        finally:
            try:
                os.remove(lock)
            except OSError:
                pass

    threading.Thread(target=_clear, daemon=True).start()
    return q


DSIR_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("tgt", T.BooleanType()),
    ]
)


def dsir_stat_stream(spark: SparkSession, source_dir: str, work_dir: str):
    """Streaming DSIR bucket-statistics maintenance: as document files
    land, each micro-batch writes its own (bucket, cs, ct) COUNT DELTA
    (≤4096 rows — constant, independent of batch size); read-time
    SUM-merge equals the one-pass batch rollup exactly because counts
    are additive.

    Replay safety is the MIRROR of the HLL register sink's: HLL
    registers are max-merge-idempotent, so append-only is safe there;
    counts are NOT (a replayed batch appended twice double-counts), so
    idempotence here comes from DETERMINISTIC PER-BATCH SINK PATHS —
    each delta lands at ``deltas/batch=<batch_id>`` with
    mode("overwrite"), and a crash-replayed batch overwrites its own
    identical delta instead of appending a duplicate.  This is the
    standard exactly-once foreachBatch counting discipline.

    At 100 TB: stream state is ZERO (all accumulation lives in the
    sink); per-batch sink writes are ≤4096 rows; the read-time merge
    aggregates #batches × 4096 rows — compaction (sum-merge + rewrite
    as one delta) is the same cardinality-bounded move as
    ``compact_registers``.
    """
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import dsir

    delta_dir = os.path.join(work_dir, "deltas")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        flat = dsir._flat_buckets(batch_df, F.col("tgt"), "text", "doc_id")
        stats = dsir.bucket_stats(flat)
        stats.write.mode("overwrite").parquet(
            os.path.join(delta_dir, f"batch={batch_id}")
        )

    stream = (
        spark.readStream.schema(DSIR_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def dsir_stream_stats(spark: SparkSession, work_dir: str) -> DataFrame:
    """SUM-merge the per-batch count deltas back to the canonical
    (bucket, cs, ct) table — exactly the batch ``dsir.bucket_stats``
    output for the same documents."""
    import os

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(work_dir, "deltas")
    )
    return deltas.groupBy("bucket").agg(
        F.sum("cs").alias("cs"), F.sum("ct").alias("ct")
    )


def dsir_stream_importance(
    spark: SparkSession, work_dir: str, docs: DataFrame
) -> DataFrame:
    """Per-document DSIR weights against the STREAM-MAINTAINED
    statistics — bit-identical to batch ``dsir.dsir_importance`` once
    the stream has consumed the same documents (count additivity), so
    the batch oracle is its oracle."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import dsir

    return dsir.importance_from_stats(
        docs, dsir_stream_stats(spark, work_dir)
    )


def hll_stream_estimates(spark: SparkSession, work_dir: str) -> DataFrame:
    """Merge the appended register deltas (MAX per (group, bucket)) and
    estimate — identical numbers to a one-pass batch sketch."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.functions import sketches

    regs = spark.read.parquet(os.path.join(work_dir, "registers"))
    merged = regs.groupBy("event_type", "bucket").agg(
        F.max("m_j").alias("m_j")
    )
    return sketches.hll_estimate(merged, ["event_type"])


_INTERVAL_UNITS = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def _interval_seconds(interval: str) -> int:
    """Parse a simple '<n> <unit>' Spark interval string to seconds
    (used to derive stream watermarks from join horizons)."""
    parts = interval.strip().lower().split()
    if len(parts) != 2 or parts[1] not in _INTERVAL_UNITS:
        raise ValueError(
            f"unsupported interval {interval!r}; use '<n> "
            "second(s)|minute(s)|hour(s)|day(s)'"
        )
    return int(float(parts[0]) * _INTERVAL_UNITS[parts[1]])


def attribution_stream(
    events_a: DataFrame,
    events_b: DataFrame,
    horizon: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: purchase attribution — each
    ``purchase`` event joined to the same user's ``click`` events that
    happened in the preceding ``horizon``.  Nothing in the reference's
    Airflow/Athena stack can express a continuously-maintained
    stream-stream join.

    Both sides are watermarked, and the join condition bounds the
    click's age relative to the purchase — the pair of constraints
    Structured Streaming needs to know when a buffered click can never
    match a future purchase, so BOTH state stores are bounded by
    (watermark + horizon), not stream length.  At 100 TB/day the state
    is the horizon's worth of clicks per user — calendar-bounded, and
    partitioned by the equi-key (user_id) so the join never shuffles
    more than the horizon window.

    The watermark is DERIVED from ``horizon`` (horizon + 1 hour of
    late-arrival slack): a fixed watermark shorter than the horizon
    would let the state store evict clicks before a matching purchase
    arrives, silently dropping attributions.
    """
    wm = f"{_interval_seconds(horizon) + 3600} seconds"
    clicks = (
        events_a.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", wm)
    )
    purchases = (
        events_b.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", wm)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        "purchase_value",
    )


def scd2_stream(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    key: str,
    tracked: list[str],
    schema: T.StructType,
    date_for_batch=None,
):
    """Streaming SCD2 dimension maintenance: each micro-batch of update
    rows merges into the versioned dimension via ``operators.scd.
    scd2_merge`` and atomically replaces the dimension table — the
    continuously-maintained form of the batch SCD2 operator (the
    reference rewrites dimensions wholesale, scripts/load.py).

    ``date_for_batch`` maps batch_id -> effective date (default: day
    batch_id+1 of 2024-01); in production the effective date comes from
    the batch's own event time — the mapping is injected so tests and
    replays are deterministic.

    State: NONE in the stream (the dimension parquet is the state, and
    it is version-swapped per batch, so a crash mid-batch leaves the
    previous consistent dimension visible).  Work per batch is bounded
    by |live slice| + |batch| — the history slice passes through
    untouched and is never joined (scd2_merge's contract), though this
    sink does rewrite it; at dimension scale the swap becomes a
    MERGE into a table format, changing the sink call only."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import scd

    dim_dir = os.path.join(work_dir, "dim")
    ckpt_dir = os.path.join(work_dir, "ckpt")
    if date_for_batch is None:
        def date_for_batch(bid: int) -> str:
            return f"2024-01-{bid + 1:02d}"

    empty_schema = T.StructType(
        [f for f in schema.fields if f.name in (key, *tracked)]
        + [
            T.StructField("effective_from", T.DateType()),
            T.StructField("effective_to", T.DateType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )

    def step(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        updates = batch_df.select(key, *tracked).dropDuplicates([key])
        if os.path.exists(dim_dir):
            current = sp.read.parquet(dim_dir)
        else:
            current = sp.createDataFrame([], empty_schema)
        merged = scd.scd2_merge(
            current, updates, key, tracked, date_for_batch(batch_id)
        )
        _versioned_overwrite(merged, dim_dir, batch_id)
        release_cached(merged)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def dq_monitor_stream(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
):
    """Streaming data-quality observability: one metrics row APPENDED
    per micro-batch (batch_id, rows, null cells, duplicate event_ids,
    negative values) — the continuous form of the reference's
    run_data_quality_checks Airflow task (scripts/data_quality.py:122),
    which can only judge a whole layer after the fact.

    Append-only metrics are the monitoring-friendly shape: each batch
    adds one row, dashboards window over it, and a replayed batch
    re-appends an identical row (harmless for max/latest consumers).
    Work per batch is one aggregate pass over the batch — no state, no
    joins against history."""
    import os

    metrics_dir = os.path.join(work_dir, "metrics")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            row = b.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").isNull().cast("long")).alias("n_null_values"),
                F.sum(F.col("user_id").isNull().cast("long")).alias("n_null_users"),
                (
                    F.count("event_id") - F.count_distinct("event_id")
                ).alias("n_dup_event_ids"),
                F.sum((F.col("value") < 0).cast("long")).alias("n_negative_values"),
            ).first()
            out = b.sparkSession.createDataFrame(
                [
                    (
                        batch_id,
                        row["n_rows"],
                        int(row["n_null_values"] or 0),
                        int(row["n_null_users"] or 0),
                        int(row["n_dup_event_ids"] or 0),
                        int(row["n_negative_values"] or 0),
                    )
                ],
                "batch_id bigint, n_rows bigint, n_null_values bigint, "
                "n_null_users bigint, n_dup_event_ids bigint, "
                "n_negative_values bigint",
            )
            out.coalesce(1).write.mode("append").parquet(metrics_dir)
        finally:
            b.unpersist()

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def list_versions(target_dir: str) -> list[int]:
    """Batch ids of the retained versions of a ``_versioned_overwrite``
    sink (newest last).  The current symlink always resolves to the
    newest; older versions survive until their swap-out (one is kept)
    so readers mid-query never lose their files."""
    import os

    parent = os.path.dirname(os.path.abspath(target_dir)) or "."
    base = os.path.basename(target_dir)
    out = []
    for f in os.listdir(parent):
        if f.startswith(base + ".v"):
            try:
                out.append(int(f[len(base) + 2:]))
            except ValueError:
                continue
    return sorted(out)


def read_version(spark: SparkSession, target_dir: str, version: int | None = None) -> DataFrame:
    """Time-travel read of a versioned sink: the table AS OF a batch id
    (default: newest retained).  This is the poor-man's form of table-
    format time travel — the versioned-directory scheme retains the
    previous version across a swap, so the last two states are always
    addressable; production retention is a policy knob (keep N dirs)."""
    versions = list_versions(target_dir)
    if not versions:
        return spark.read.parquet(target_dir)
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not retained; have {versions}")
    return spark.read.parquet(f"{target_dir}.v{v}")


def compact_registers(spark: SparkSession, work_dir: str) -> int:
    """Compaction for the append-only HLL register sink: read all
    deltas, MAX-merge to the canonical |types| x 256 rows, atomically
    swap the merged table in as a fresh single delta — read cost
    returns to one tiny file while every estimate stays bit-identical
    (max-merge is idempotent and associative).  Returns the compacted
    row count.

    MUST run while the stream is STOPPED (enforced below when the
    stream registered its lock file): the swap is a two-rename gap, so
    a delta appended between the merged read and the rename would be
    deleted with the old directory — undercounting distincts — and
    there is a window where ``registers`` does not exist.  A crash
    mid-compaction leaves the old delta directory untouched; a stale
    ``.old`` from a prior crash is cleaned up before renaming."""
    import os
    import shutil

    reg_dir = os.path.join(work_dir, "registers")
    # Stream-running guard: hll_sketch_stream records its query id in a
    # lock file while active.  If that query is still in
    # spark.streams.active, refuse to compact (the two-rename swap
    # would drop deltas appended mid-compaction); if not, the lock is
    # stale (crashed/terminated stream — its cleanup thread lost the
    # race) and is safe to clear.
    lock = os.path.join(work_dir, "stream.active")
    if os.path.exists(lock):
        try:
            with open(lock) as fh:
                txt = fh.read().strip()
        except OSError:
            txt = ""
        qid = txt.rsplit(":", 1)[-1] if ":" in txt else None
        active = {str(q.id) for q in spark.streams.active}
        if qid is None or qid in active:
            raise RuntimeError(
                "compact_registers: hll_sketch_stream is active "
                f"({lock} present) — stop the stream before compacting"
            )
        os.remove(lock)
    merged = (
        spark.read.parquet(reg_dir)
        .groupBy("event_type", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    tmp = reg_dir + ".compacting"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    old = reg_dir + ".old"
    # a leftover .old from a prior crash would make os.rename fail
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)
    os.rename(reg_dir, old)
    os.rename(tmp, reg_dir)
    shutil.rmtree(old, ignore_errors=True)
    return n


CMS_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def cms_sketch_stream(spark: SparkSession, source_dir: str, work_dir: str):
    """Streaming count-min maintenance: as document files land, each
    micro-batch writes its own (j, c, cnt) CELL DELTA (≤ 4096 rows —
    constant, independent of batch size); read-time SUM-merge equals
    the one-pass batch sketch exactly because cell counts are
    additive.

    Same replay discipline as ``dsir_stat_stream`` (counts are NOT
    append-idempotent): deterministic per-batch sink paths
    ``cells/batch=<batch_id>`` with mode("overwrite") — a
    crash-replayed batch overwrites its own identical delta.

    At 100 TB: zero stream state, ≤ 4096-row sink writes per batch,
    read-time merge over #batches x 4096 rows; compaction is the same
    cardinality-bounded sum+rewrite as the other sketch sinks.
    """
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.functions import sketches

    cell_dir = os.path.join(work_dir, "cells")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        sketches.cms_sketch(batch_df).write.mode("overwrite").parquet(
            os.path.join(cell_dir, f"batch={batch_id}")
        )

    stream = (
        spark.readStream.schema(CMS_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def cms_stream_sketch(spark: SparkSession, work_dir: str) -> DataFrame:
    """SUM-merge the per-batch cell deltas back to the canonical
    (j, c, cnt) sketch — exactly the batch ``sketches.cms_sketch``
    of the same documents (cell-count additivity)."""
    import os

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(work_dir, "cells")
    )
    return deltas.groupBy("j", "c").agg(F.sum("cnt").alias("cnt"))


def cms_stream_heavy_hitters(
    spark: SparkSession, work_dir: str, docs: DataFrame, top_k: int = 20
) -> DataFrame:
    """Heavy hitters probed against the STREAM-MAINTAINED sketch —
    bit-identical to batch ``cms_heavy_hitters`` once the stream has
    consumed the same documents, so the batch CMS oracle is its
    oracle."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions import sketches

    return sketches.cms_probe_topk(
        docs, cms_stream_sketch(spark, work_dir), top_k=top_k
    )


PSI_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def psi_count_stream(
    spark: SparkSession, source_dir: str, work_dir: str, cutoff: str = None
):
    """Streaming drift maintenance: as event files land, each
    micro-batch writes its own (event_type, bucket, o1, o2) COUNT
    DELTA — bounded by |types| x 22 rows regardless of batch size.
    Pre/post-cutoff bucket counts are additive, so the read-time
    SUM-merge equals the one-pass batch rollup
    (operators/drift.py::psi_period_counts) exactly, and the batch
    PSI oracle is the stream's oracle.

    Replay discipline (counts are NOT append-idempotent): per-batch
    sink paths ``counts/batch=<batch_id>`` with mode("overwrite") — a
    crash-replayed batch overwrites its own identical delta instead
    of double-counting (the dsir_stat_stream / cms_sketch_stream
    rule).

    At 100 TB: zero stream state (the rollup IS the state, and it
    lives in the sink), tiny bounded writes per batch, read-time
    merge over #batches x |types| x 22 rows."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift

    cut = cutoff if cutoff is not None else drift.PSI_CUTOFF
    count_dir = os.path.join(work_dir, "counts")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        drift.psi_period_counts(batch_df, cutoff=cut).write.mode(
            "overwrite"
        ).parquet(os.path.join(count_dir, f"batch={batch_id}"))

    stream = (
        spark.readStream.schema(PSI_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def psi_stream_counts(spark: SparkSession, work_dir: str) -> DataFrame:
    """SUM-merge the per-batch count deltas back to the canonical
    (event_type, bucket, o1, o2) rollup — exactly the batch
    ``psi_period_counts`` of the same events (count additivity)."""
    import os

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(work_dir, "counts")
    )
    return deltas.groupBy("event_type", "bucket").agg(
        F.sum("o1").alias("o1"), F.sum("o2").alias("o2")
    )


def psi_stream_scores(
    spark: SparkSession, work_dir: str, types: DataFrame
) -> DataFrame:
    """PSI scored from the STREAM-MAINTAINED rollup — bit-identical to
    batch ``snapshot_value_psi`` once the stream has consumed the same
    events (shared scorer ``psi_from_counts``), so the batch PSI
    oracle is its oracle.  ``types`` is the 1-column event_type
    universe (the batch operator derives it from the events table;
    passing it explicitly keeps all-null-value types present in the
    grid exactly as the batch path does)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift

    return drift.psi_from_counts(
        psi_stream_counts(spark, work_dir), types
    )


CHISQ_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def chisq_count_stream(spark: SparkSession, source_dir: str, work_dir: str):
    """Streaming length-drift maintenance: as document files land,
    each micro-batch writes its own (source, bin, o) COUNT DELTA —
    bounded by |sources| x ~50 msb bins regardless of batch size;
    read-time SUM-merge equals the one-pass batch rollup
    (operators/drift.py::length_bin_counts) by count additivity, so
    the batch chi-square oracle is the stream's oracle.  Same
    overwrite-by-batch replay discipline as psi_count_stream."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift

    count_dir = os.path.join(work_dir, "counts")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        drift.length_bin_counts(batch_df).write.mode("overwrite").parquet(
            os.path.join(count_dir, f"batch={batch_id}")
        )

    stream = (
        spark.readStream.schema(CHISQ_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def chisq_stream_scores(spark: SparkSession, work_dir: str) -> DataFrame:
    """Chi-square scored from the STREAM-MAINTAINED rollup —
    bit-identical to batch ``length_drift_chisq`` once the stream has
    consumed the same documents (shared scorer ``chisq_from_counts``),
    so the batch oracle gates the stream end-state."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(work_dir, "counts")
    )
    merged = deltas.groupBy("source", "bin").agg(F.sum("o").alias("o"))
    return drift.chisq_from_counts(merged)


def kl_count_stream(spark: SparkSession, source_dir: str, work_dir: str):
    """Streaming KL-drift maintenance: per-batch (source, tok, c)
    unigram-count deltas at overwrite-by-batch sink paths.  Unlike the
    chi-square/PSI deltas this one is |batch vocab|-sized rather than
    constant — still bounded by vocabulary (Heaps' law), never by
    tokens — and the read-time SUM-merge equals the one-pass batch
    rollup (operators/drift.py::source_token_counts) by count
    additivity, so the batch KL oracle gates the stream end-state.
    Same replay discipline as the other count streams."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift

    count_dir = os.path.join(work_dir, "counts")
    ckpt_dir = os.path.join(work_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        drift.source_token_counts(batch_df).write.mode(
            "overwrite"
        ).parquet(os.path.join(count_dir, f"batch={batch_id}"))

    stream = (
        spark.readStream.schema(CHISQ_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )


def kl_stream_scores(spark: SparkSession, work_dir: str) -> DataFrame:
    """KL scored from the STREAM-MAINTAINED rollup — bit-identical to
    batch ``source_token_kl`` once the stream has consumed the same
    documents (shared scorer ``kl_from_counts``)."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift

    deltas = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(work_dir, "counts")
    )
    merged = deltas.groupBy("source", "tok").agg(F.sum("c").alias("c"))
    return drift.kl_from_counts(merged)


def gold_partials_stream(
    spark: SparkSession, source_dir: str, store_dir: str, schema: T.StructType
):
    """STATE-FREE streaming gold maintenance: as sale-transaction
    files land, each micro-batch aggregates ITSELF into mergeable
    exact-integer partials and writes them to its own
    ``batch=<batch_id>`` partition of the goldstore
    (plans/goldstore.py) — the other design point from
    ``gold_stream``'s complete-mode aggregate:

    - ``gold_stream`` holds the FULL aggregate as streaming state
      (bounded by calendar x types) and rewrites the whole gold table
      per batch;
    - this path holds ZERO streaming state — the partial store IS the
      state, batches merge at SERVE time (one small groupBy-SUM), and
      per-batch sink cost is O(batch's distinct dates), never
      O(gold).

    Exactly-once: foreachBatch may replay a batch after a crash;
    ``write_gold_partials`` overwrites that batch's own partition, so
    replay is idempotent (Spark's documented batchId-keyed sink
    discipline, the psi/chisq/kl count-delta rule).  Because COUNT and
    SUM partials are additive, ``serve_gold_daily`` over the streamed
    store is bit-identical to batch ``gold.daily_sales_summary`` over
    the same rows — so the batch oracle is the stream's oracle."""
    import os

    from retail_etl_pipeline_airflow_s3_athena_spark.plans import goldstore

    partials_dir = os.path.join(store_dir, "partials")
    ckpt_dir = os.path.join(store_dir, "ckpt")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        goldstore.write_gold_partials(batch_df, partials_dir, str(batch_id))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
