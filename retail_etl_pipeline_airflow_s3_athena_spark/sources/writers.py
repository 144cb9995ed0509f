"""Layer sinks (reference scripts/extract.py:64-69, transform.py:46-56,
load.py:176-268, aws_upload.py).

- Bronze: header CSV per run (S3).
- Silver: snappy Parquet under ``<table>/date=YYYYMMDD/`` (S5) — we use
  ``partitionBy("date")`` so Spark writes the same Hive layout the
  reference hand-builds with os.path.join (transform.py:46-52).
- Gold: overwrite Parquet per business table (S7).
- S3 upload (S9) is not a separate step on Spark: write to
  ``s3a://bucket/...`` URIs directly and the layer lands in S3.

Scale notes: silver writes append one date partition per run (the
reference's daily-snapshot story, README.md:205-218); downstream reads
prune on ``date``.  Gold writes use dynamic partition overwrite
semantics where partitioned.  No ``coalesce(1)`` anywhere — single-file
output is a pandas artifact, not a requirement.

Silver and gold tables carry a schema manifest (``.schema.json``,
functions/fsutil): the plan's schema is known at write time without a
job, so the writers record it and readers and catalog registrations
skip the footer-inference job.  A reader never sees a manifest that
disagrees with the committed files: a write whose schema differs from
the manifest removes it BEFORE the data write, and a manifest is
written only AFTER the commit.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import (
    as_read_schema,
    hadoop_fs,
    read_schema_manifest,
    write_schema_manifest,
)


def _run_date(run_date: str | _dt.date | None) -> str:
    if run_date is None:
        return _dt.date.today().strftime("%Y%m%d")
    if isinstance(run_date, _dt.date):
        return run_date.strftime("%Y%m%d")
    return str(run_date)


def data_schema(df: DataFrame, partition_cols: tuple[str, ...] = ()) -> T.StructType:
    """The schema a read of the parquet files ``df`` writes reports for
    them: ``df``'s columns minus the ``partitionBy`` columns, which
    live in directory names."""
    return as_read_schema(
        T.StructType([f for f in df.schema.fields if f.name not in partition_cols])
    )


def write_keeping_manifest(write, df: DataFrame, path: str,
                           partition_cols: tuple[str, ...] = ()) -> None:
    """Run ``write`` — one that adds to or replaces part of the parquet
    table at ``path`` and leaves the rest — and keep the table's schema
    manifest true to its files.  The manifest stays only if it matches
    ``df``'s data schema; a table that did not exist gets one after the
    commit; a table whose files may disagree (a drifted append, or
    files written without a manifest) is left with none, so its reads
    infer from one footer as before."""
    spark = df.sparkSession
    schema = data_schema(df, partition_cols)
    old = read_schema_manifest(spark, path)
    if old is not None and old != schema:
        write_schema_manifest(spark, path, None)
    jvm, fs = hadoop_fs(spark, path)
    fresh = old is None and not fs.exists(jvm.org.apache.hadoop.fs.Path(path))
    write()
    if fresh:
        write_schema_manifest(spark, path, schema)


def write_bronze_csv(df: DataFrame, base_dir: str, table: str) -> str:
    """Bronze CSV sink with header (reference extract.py:64-69, S3)."""
    path = f"{base_dir}/{table}"
    df.write.mode("overwrite").option("header", True).csv(path)
    return path


def write_silver(
    df: DataFrame,
    base_dir: str,
    table: str,
    run_date: str | _dt.date | None = None,
) -> str:
    """Silver sink: snappy Parquet partitioned by run date
    (reference csv_to_parquet write path, transform.py:46-56, S5).

    Append mode: one ``date=YYYYMMDD`` partition per pipeline run — the
    reference's batch-snapshot model (SURVEY.md §1.1)."""
    path = f"{base_dir}/{table}"
    out = df.withColumn("date", F.lit(_run_date(run_date)))
    write_keeping_manifest(
        lambda: out.write.mode("append")
        .partitionBy("date")
        .option("compression", "snappy")
        .parquet(path),
        out, path, ("date",),
    )
    return path


def write_gold(df: DataFrame, base_dir: str, table: str) -> str:
    """Gold sink: overwrite Parquet (reference load.py:176-177 etc., S7).
    The overwrite deletes the directory, old manifest included, before
    the job runs; the new manifest lands after the commit."""
    path = f"{base_dir}/{table}"
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)
    write_schema_manifest(df.sparkSession, path, data_schema(df))
    return path


def backfill_silver_partition(
    df: DataFrame,
    base_dir: str,
    table: str,
    run_date: str | _dt.date,
    target_files: int | None = None,
) -> str:
    """Idempotent single-partition rewrite (backfill / repair /
    compaction): replaces EXACTLY the ``date=<run_date>`` partition with
    ``df``'s rows, leaving every other partition untouched.

    Uses DYNAMIC partition-overwrite (scoped to this write via
    ``partitionOverwriteMode=dynamic``): Spark deletes only the
    partitions present in the incoming data — the operational primitive
    behind reprocessing one bad day out of a 100 TB table without
    rewriting (or even listing) the rest.  STATIC overwrite here would
    truncate the whole table; that distinction is the single most
    expensive silent mistake in partitioned-sink code, so this helper
    pins the mode per-write instead of relying on session defaults.

    ``target_files`` additionally repartitions the day's rows before
    writing — the small-file compaction knob (a day re-ingested from
    many micro-batches can leave hundreds of tiny files; rewriting it
    through this path at a chosen file count is the standard
    maintenance job)."""
    path = f"{base_dir}/{table}"
    out = df.withColumn("date", F.lit(_run_date(run_date)))
    if target_files is not None:
        out = out.repartition(target_files)
    write_keeping_manifest(
        lambda: out.write.mode("overwrite")
        .partitionBy("date")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .parquet(path),
        out, path, ("date",),
    )
    return path


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> str:
    """Clustered gold layout: range-repartition on ``cluster_cols`` and
    sort within each output file, so every parquet file covers a
    DISJOINT range of the clustering key.

    Why it matters at 100 TB: parquet footers carry per-column min/max;
    a reader filtering on the clustering key (Spark, DuckDB, Athena,
    anything) skips every file whose [min, max] misses the predicate —
    but only if the writer made those ranges tight.  Hive
    ``partitionBy`` gives coarse pruning on low-cardinality keys; this
    gives fine-grained skipping on high-cardinality keys (timestamps,
    customer ids) WITHOUT the small-file explosion per-value
    partitioning would cause.  The same layout is what table formats
    call clustering / Z-ordering in the single-key case.

    ``repartitionByRange`` samples the key distribution, so files are
    balanced under skew (an equal-width split would not be).  The
    in-file sort additionally makes page-level (row-group) statistics
    monotone, enabling row-group skipping inside each file."""
    part = df.repartitionByRange(*([n_files] if n_files else []), *cluster_cols)
    (
        part.sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .parquet(path)
    )
    return path


def write_jsonl_shards(
    df: DataFrame,
    base_dir: str,
    table: str,
    shard_cols: list[str] | None = None,
    codec: str | None = None,
) -> str:
    """JSON-lines sink — the interchange format training pipelines
    actually feed tokenizer/trainer jobs (one JSON object per line,
    gzip-friendly, schema-on-read).  ``shard_cols`` (e.g.
    ['split', 'bin_id']) directory-partitions the output so a trainer
    reads exactly its shard.  Spark's native json writer escapes
    control characters, quotes, and non-BMP text per RFC 8259, so
    arbitrary document text round-trips.

    ``codec`` ('gzip' in practice — trainer-interchange JSONL is
    gzipped in the wild; 'none'/None writes plain) compresses each
    shard file whole through Spark's JVM-side codec path — no Python
    in the loop, and readers.read_jsonl decompresses transparently by
    file extension.  Gzip members are NOT splittable, so at 100 TB
    the parallelism unit is the shard FILE: size shards via the
    upstream partitioning (one task per .jsonl.gz), exactly how
    WebDataset/trainer shards are consumed.

    Reference scope: none (the reference stops at CSV/parquet) —
    extension coverage for the training-data tier."""
    path = f"{base_dir}/{table}"
    w = df.write.mode("overwrite")
    if codec:
        w = w.option("compression", codec)
    if shard_cols:
        w = w.partitionBy(*shard_cols)
    w.json(path)
    return path
