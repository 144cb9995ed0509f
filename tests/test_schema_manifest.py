"""Schema manifests (functions/fsutil.write_schema_manifest): the silver
and gold writers record each table's data schema, and reads and catalog
registrations use it instead of a footer-inference job.

Every fixture here is planned in the JVM (fixture parquet reads,
``spark.range`` projections).  A ``createDataFrame(<list>)`` table
scans through a Python worker, which costs seconds per write, and the
medallion tables below carry the types the pipeline really writes
(dates, doubles, longs, strings) for the equivalence check.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import (
    SCHEMA_MANIFEST,
    read_schema_manifest,
)
from retail_etl_pipeline_airflow_s3_athena_spark.plans import (
    gold,
    goldstore,
    retail_views,
    silver,
)
from retail_etl_pipeline_airflow_s3_athena_spark.sources import (
    catalog,
    readers,
    writers,
)
from tests.conftest import jobs_submitted

DIMS = ["customers", "products", "stores"]
GOLDS = [
    "daily_sales_summary", "top_customers", "product_performance",
    "store_performance",
]
DB = "manifest_test"


@pytest.fixture(scope="module")
def layers(spark, sf_dir, tmp_path_factory):
    """A medallion work dir: a two-day silver fact table, three silver
    dims and the four gold tables, all written by the package writers."""
    work = str(tmp_path_factory.mktemp("manifest"))
    fact = silver.clean(retail_views.sale_transactions(spark, sf_dir))
    for day in ("20240101", "20240102"):
        writers.write_silver(fact, f"{work}/silver", "sale_transactions", day)
    dims = {}
    for name in DIMS:
        writers.write_silver(
            silver.clean(getattr(retail_views, name)(spark, sf_dir)),
            f"{work}/silver", name, "20240101",
        )
        dims[name] = readers.read_parquet_table(spark, f"{work}/silver", name).drop("date")
    s = readers.read_parquet_table(spark, f"{work}/silver", "sale_transactions").drop("date")
    tables = {
        "daily_sales_summary": gold.daily_sales_summary(s),
        "top_customers": gold.top_customers(s, dims["customers"]),
        "product_performance": gold.product_performance(s, dims["products"]),
        "store_performance": gold.store_performance(s, dims["stores"]),
    }
    for name, df in tables.items():
        writers.write_gold(df, f"{work}/gold", name)
    catalog.create_database(spark, DB)
    paths = {n: f"{work}/silver/{n}" for n in ["sale_transactions"] + DIMS}
    paths.update({n: f"{work}/gold/{n}" for n in GOLDS})
    return paths


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _drop_manifest(path: str) -> None:
    os.remove(f"{path}/{SCHEMA_MANIFEST}")
    os.remove(f"{path}/.{SCHEMA_MANIFEST}.crc")


def _write_day(spark, base, day, with_channel=False):
    df = spark.range(2, numPartitions=1).select(
        (F.col("id") + int(day) % 100 * 10).alias("id"),
        (F.col("id") * 1.5).alias("amount"),
        *([F.lit("web").alias("channel")] if with_channel else []),
    )
    writers.write_silver(df, base, "t", day)
    return df


def test_manifest_read_equals_inferred_read(spark, layers):
    """Types, nullability, column order and the inferred type of the
    ``date`` partition column match exactly, and so do the rows."""
    for name, path in layers.items():
        assert read_schema_manifest(spark, path) is not None, name
        got = readers.read_parquet(spark, path)
        want = spark.read.parquet(path)
        assert got.schema.json() == want.schema.json(), name
        assert _rows(got) == _rows(want), name
    fact = readers.read_parquet(spark, layers["sale_transactions"])
    assert fact.columns[-1] == "date"
    assert fact.count() == 2 * fact.filter("date = 20240101").count() > 0


def test_manifest_reads_and_registrations_submit_no_job(spark, layers):
    for name, path in layers.items():
        assert jobs_submitted(spark, lambda: readers.read_parquet(spark, path)) == 0, name
        assert jobs_submitted(
            spark, lambda: catalog.register_parquet_table(spark, DB, name, path)
        ) == 0, name


def test_without_manifest_one_inference_job_same_schema(spark, layers, tmp_path):
    import shutil

    for name in ["sale_transactions", "daily_sales_summary"]:
        path = str(tmp_path / name)
        shutil.copytree(layers[name], path)
        with_manifest = readers.read_parquet(spark, path).schema.json()
        catalog.register_parquet_table(spark, DB, f"{name}_m", path)
        _drop_manifest(path)
        n = jobs_submitted(spark, lambda: readers.read_parquet(spark, path))
        assert n == 1, (name, n)
        assert readers.read_parquet(spark, path).schema.json() == with_manifest
        n = jobs_submitted(
            spark, lambda: catalog.register_parquet_table(spark, DB, f"{name}_i", path)
        )
        assert n == 1, (name, n)
        assert (spark.table(f"{DB}.{name}_i").schema.json()
                == spark.table(f"{DB}.{name}_m").schema.json())


@pytest.mark.parametrize("manifest", [True, False])
def test_registered_partitioned_fact_table_holds_its_rows(spark, layers, tmp_path, manifest):
    """A ``date=`` layout registers as a partitioned table whose
    partitions are recovered: the catalog sees every row on disk."""
    import shutil

    path = str(tmp_path / "fact")
    shutil.copytree(layers["sale_transactions"], path)
    if not manifest:
        _drop_manifest(path)
    on_disk = spark.read.parquet(path).count()
    catalog.register_parquet_table(spark, DB, "fact", path)
    got = spark.sql(f"SELECT count(*) AS n FROM {DB}.fact").first()["n"]
    assert got == on_disk > 0
    parts = [c.name for c in spark.catalog.listColumns(f"{DB}.fact") if c.isPartition]
    assert parts == ["date"]


@pytest.mark.parametrize("manifest", [True, False])
def test_partition_keys_registers(spark, layers, tmp_path, manifest):
    import shutil

    path = str(tmp_path / "fact")
    shutil.copytree(layers["sale_transactions"], path)
    if not manifest:
        _drop_manifest(path)
    catalog.register_parquet_table(spark, DB, "fact_keyed", path, partition_keys=["date"])
    got = spark.sql(
        f"SELECT date, count(*) AS n FROM {DB}.fact_keyed GROUP BY date ORDER BY date"
    ).collect()
    want = spark.read.parquet(path).groupBy("date").count().orderBy("date").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 2


def test_drifted_append_leaves_no_manifest(spark, tmp_path):
    base = str(tmp_path)
    _write_day(spark, base, "20240101")
    assert read_schema_manifest(spark, f"{base}/t").names == ["id", "amount"]
    _write_day(spark, base, "20240102", with_channel=True)
    assert read_schema_manifest(spark, f"{base}/t") is None
    # a later append matching either schema does not bring it back:
    # the files still disagree
    _write_day(spark, base, "20240103")
    assert read_schema_manifest(spark, f"{base}/t") is None
    got = readers.read_parquet_table(spark, base, "t")
    want = spark.read.parquet(f"{base}/t")
    assert got.schema.json() == want.schema.json()
    assert _rows(got) == _rows(want)


def test_backfill_keeps_manifest_consistent(spark, tmp_path):
    base = str(tmp_path)
    _write_day(spark, base, "20240101")
    df = _write_day(spark, base, "20240102")
    writers.backfill_silver_partition(df, base, "t", "20240102", target_files=1)
    assert read_schema_manifest(spark, f"{base}/t").names == ["id", "amount"]
    got = readers.read_parquet_table(spark, base, "t")
    want = spark.read.parquet(f"{base}/t")
    assert got.schema.json() == want.schema.json()
    assert _rows(got) == _rows(want) and got.count() == 4
    # a backfill with a drifted schema leaves other days disagreeing
    drifted = df.withColumn("channel", F.lit("web"))
    writers.backfill_silver_partition(drifted, base, "t", "20240102")
    assert read_schema_manifest(spark, f"{base}/t") is None


def test_gold_overwrite_replaces_manifest(spark, tmp_path):
    """An overwrite with a new schema leaves the new schema's manifest."""
    base = str(tmp_path)
    writers.write_gold(spark.range(3).withColumnRenamed("id", "a"), base, "g")
    writers.write_gold(spark.range(3).select(F.col("id").cast("string").alias("b")), base, "g")
    assert read_schema_manifest(spark, f"{base}/g").simpleString() == "struct<b:string>"
    assert readers.read_parquet_table(spark, base, "g").schema.json() == (
        spark.read.parquet(f"{base}/g").schema.json()
    )


def test_gold_store_reads_through_manifest(spark, sf_dir, tmp_path):
    """The partial store carries a manifest through ingest and
    compaction, and its manifest read equals the inferred read."""
    path = str(tmp_path / "daily")
    st = retail_views.sale_transactions(spark, sf_dir)
    goldstore.write_gold_partials(st.filter("transaction_id % 2 = 0"), path, "b0")
    goldstore.compact_gold_daily(spark, path)
    goldstore.write_gold_partials(st.filter("transaction_id % 2 = 1"), path, "b1")
    assert read_schema_manifest(spark, path) is not None
    got = readers.read_parquet(spark, path)
    want = spark.read.parquet(path)
    assert got.schema.json() == want.schema.json()
    assert _rows(got) == _rows(want)
    assert jobs_submitted(spark, lambda: readers.read_parquet(spark, path)) == 0
