"""Hadoop-FS helpers: the one FS handle every module uses, the table
schema manifest, and the crash-recoverable directory swap the persisted
stores (gold store, ANN index) share.  FS-API-only — the same calls
work on local FS, HDFS, and s3a."""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T

# A dot name: Spark's parquet file listing skips names starting with
# "_" or ".", but ALTER TABLE ... RECOVER PARTITIONS skips only
# _SUCCESS, _temporary and dot names (and logs every other file it
# finds at a table root as a WARN).
SCHEMA_MANIFEST = ".schema.json"


def hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf)


def _nullable(node):
    if isinstance(node, list):
        return [_nullable(n) for n in node]
    if not isinstance(node, dict):
        return node
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull")
        else v if k == "metadata" else _nullable(v)
        for k, v in node.items()
    }


def as_read_schema(schema: T.StructType) -> T.StructType:
    """``schema`` as a parquet read reports it: every field, element
    and map value nullable, whatever nullability the writer had."""
    return T.StructType.fromJson(_nullable(schema.jsonValue()))


def write_schema_manifest(
    spark: SparkSession, table_dir: str, schema: T.StructType | None
) -> None:
    """Record the data schema (partition columns excluded) of the
    parquet files under ``table_dir`` in ``<table_dir>/.schema.json``,
    so reads and catalog registrations skip the footer-reading
    inference job.  ``None`` removes the manifest: the files' schema is
    no longer known to be uniform.  Spark's file listing and partition
    recovery both skip dot names, so readers of the data never see it.

    Write it only after the data commit, and remove it before a data
    write that may leave files of another schema.  The manifest is
    written to a temporary name and renamed into place, so a reader
    sees the whole manifest or none."""
    jvm, fs = hadoop_fs(spark, table_dir)
    path = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{SCHEMA_MANIFEST}")
    if schema is None:
        fs.delete(path, False)
        return
    tmp = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{SCHEMA_MANIFEST}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(as_read_schema(schema).json().encode())
    finally:
        out.close()
    fs.delete(path, False)
    if not fs.rename(tmp, path):
        raise IOError(f"write_schema_manifest: rename into {path} failed")


def read_schema_manifest(
    spark: SparkSession, table_dir: str
) -> T.StructType | None:
    """The data schema recorded by ``write_schema_manifest``, or None
    when ``table_dir`` has no manifest (the reader then infers)."""
    jvm, fs = hadoop_fs(spark, table_dir)
    path = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{SCHEMA_MANIFEST}")
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return T.StructType.fromJson(json.loads(bytes(raw)))


def recover_dir(spark: SparkSession, path: str) -> bool:
    """Crash-recovery entry check, usable from READ paths as well as
    the swap itself: if ``path`` is missing but a ``<path>__old``
    aside copy exists (a swap crashed between its two renames), rename
    the copy back into place.  Returns True when a recovery happened.
    Idempotent and cheap (two existence probes) when the store is
    healthy."""
    jvm, fs = hadoop_fs(spark, path)
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    p_aside = jvm.org.apache.hadoop.fs.Path(f"{path}__old")
    if fs.exists(p_aside) and not fs.exists(p_old):
        if not fs.rename(p_aside, p_old):
            raise IOError(f"recover_dir: rename {path}__old -> {path} failed")
        return True
    return False


def swap_dir(spark: SparkSession, path: str, tmp: str, op: str) -> None:
    """Crash-recoverable store swap: rename the live directory aside
    (``<path>__old``), rename the rewritten ``tmp`` into place, then
    delete the aside copy.  Every crash point leaves a recoverable
    copy — before the second rename the data survives at ``__old``
    AND ``tmp``; delete-then-rename had a window where a crash
    stranded the only copy at ``tmp``.  Recovery is AUTOMATIC (r12,
    ADVICE r11): a crash between the two renames leaves nothing live
    at ``path`` — on entry, if ``path`` is missing but ``<path>__old``
    exists, the aside copy is renamed back into place before
    proceeding, so the next run (and any read in between that calls
    ``recover_dir``) sees the pre-swap store.  A stale ``__old`` is
    cleared only when a live directory at ``path`` supersedes it."""
    jvm, fs = hadoop_fs(spark, path)
    p_old = jvm.org.apache.hadoop.fs.Path(path)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    p_aside = jvm.org.apache.hadoop.fs.Path(f"{path}__old")
    # prior run crashed between its two renames: put the aside copy
    # back so this swap starts from the pre-crash live store (it is
    # about to be re-renamed aside anyway, but a failure below must
    # leave a servable ``path``); a stale aside next to a LIVE path
    # is superseded and cleared
    if not recover_dir(spark, path) and fs.exists(p_aside):
        fs.delete(p_aside, True)
    if fs.exists(p_old) and not fs.rename(p_old, p_aside):
        raise IOError(f"{op}: rename {path} -> {path}__old failed")
    if not fs.rename(p_tmp, p_old):
        raise IOError(f"{op}: rename {tmp} -> {path} failed")
    fs.delete(p_aside, True)
