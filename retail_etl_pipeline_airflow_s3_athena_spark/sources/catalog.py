"""Catalog registration (reference scripts/glue_registry.py).

The reference registers Gold parquet paths as Glue EXTERNAL_TABLEs with
hand-pinned column lists (glue_registry.py:40-137) so Athena can query
them.  On Spark the catalog is ``spark_catalog``:

- create_database        <- GlueRegistry.create_database (S11,
                            glue_registry.py:21-38)
- register_parquet_table <- GlueRegistry.register_s3_table (S10,
                            glue_registry.py:40-87); the column list
                            comes from the table's schema manifest,
                            which the writer records in place of the
                            reference's hand-pinned columns (S12), and
                            from footer inference when there is none
                            (replacing _infer_columns / the crawler,
                            S12/S13, glue_registry.py:89-182)

Registration is idempotent (IF NOT EXISTS / CREATE OR REPLACE), like
the reference's get-then-update dance (glue_registry.py:66-81).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import (
    hadoop_fs,
    read_schema_manifest,
)
from retail_etl_pipeline_airflow_s3_athena_spark.sources.readers import read_parquet


def create_database(spark: SparkSession, name: str) -> None:
    """Create-if-not-exists (reference glue_registry.py:21-38, S11)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def register_parquet_table(
    spark: SparkSession,
    database: str,
    table: str,
    path: str,
    partition_keys: list[str] | None = None,
) -> None:
    """Register an external parquet location as a catalog table
    (reference glue_registry.py:40-87, S10).

    With a schema manifest at ``path`` the CREATE TABLE carries the
    column list (no Spark job), and the partition columns are the ones
    the directory layout adds to the manifest's.  Without one, Spark
    infers the schema and partition columns from the files (one job),
    as the Glue crawler would (S13); ``partition_keys`` then needs the
    inferred column list, since Spark refuses ``PARTITIONED BY`` on a
    CREATE TABLE without one.  A partitioned table's partitions are
    recovered from the layout, or the catalog would hold none and
    every query over it would read zero rows."""
    name = f"{database}.{table}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    manifest = read_schema_manifest(spark, path)
    columns, keys = "", partition_keys
    if manifest is not None or partition_keys:
        schema = read_parquet(spark, path)._jdf.schema()
        columns = f"({schema.toDDL()}) "
        if not keys:
            keys = [c for c in schema.fieldNames() if c not in manifest.names]
    partition_clause = f"PARTITIONED BY ({', '.join(keys)}) " if keys else ""
    spark.sql(
        f"CREATE TABLE {name} {columns}USING PARQUET "
        f"{partition_clause}LOCATION '{path}'"
    )
    if keys or (not columns and _is_partitioned(spark, name)):
        spark.sql(f"ALTER TABLE {name} RECOVER PARTITIONS")


def _is_partitioned(spark: SparkSession, name: str) -> bool:
    # DESCRIBE runs no Spark job; catalog.listColumns runs one per
    # partition of its result
    rows = spark.sql(f"DESCRIBE TABLE {name}").collect()
    return any(r.col_name == "# Partition Information" for r in rows)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
    database: str | None = None,
) -> None:
    """Persist a DataFrame bucketed (and sorted) by a join key.

    Bucketing is the pre-AQE co-location contract: two tables bucketed
    on the same key with the same bucket count join WITHOUT a shuffle —
    at 100 TB that turns the recurring fact⋈fact join from the dominant
    exchange into a local zip of sorted buckets.  Worth it for keys
    joined repeatedly (customer_id, product_id); not for one-shot joins.
    """
    spark = df.sparkSession
    name = f"{database}.{table}" if database else table
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # a previously interrupted write can leave the managed location
    # behind (DROP only removes metadata it knows about) — clear it
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = f"{warehouse}/{database + '.db/' if database else ''}{table}"
    jvm, fs = hadoop_fs(spark, loc)
    fs.delete(jvm.org.apache.hadoop.fs.Path(loc), True)
    (
        df.write.bucketBy(buckets, key)
        .sortBy(key)
        .option("compression", "snappy")
        .format("parquet")
        .saveAsTable(name)
    )


def bucketed_segment_order_stats(
    spark, orders, customer, buckets: int = 8
):
    """(c_mktsegment, n_orders, total_price, avg_price): per-segment
    order stats THROUGH the bucketed-join path — both sides persisted
    ``bucketBy(buckets, custkey)`` sorted, then sort-merge-joined (the
    ``merge`` hint pins SMJ without mutating session confs, so the
    bucketed scan-to-scan zip is what executes; the zero-Exchange plan
    shape is asserted in tests/test_pipeline.py).  Gated against the
    plain-join oracle, this is the third leg of the join-strategy
    proof set: AQE skew split (test), salting (salted_segment_order_
    stats), and bucketing all produce bit-identical answers.

    At 100 TB: bucketing pre-pays the fact-side exchange once at write
    time; every subsequent join on the bucket key is shuffle-free.
    The exact-cents aggregates keep the result independent of bucket
    count and task order."""
    from pyspark.sql import functions as F

    from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import (
        money_avg,
        money_sum,
    )

    write_bucketed_table(
        orders.select(
            F.col("o_custkey").alias("custkey"), "o_totalprice"
        ),
        "gate_bucketed_orders", "custkey", buckets,
    )
    write_bucketed_table(
        customer.select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        ),
        "gate_bucketed_customer", "custkey", buckets,
    )
    return (
        spark.table("gate_bucketed_orders")
        .join(spark.table("gate_bucketed_customer").hint("merge"), "custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
            money_avg("o_totalprice").alias("avg_price"),
        )
        .orderBy("c_mktsegment")
    )


def oracle_bucketed_segment_order_stats_sql() -> str:
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import (
        sql_money_avg,
        sql_money_sum,
    )

    return f"""
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('o.o_totalprice')} AS total_price,
               {sql_money_avg('o.o_totalprice')} AS avg_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
        ORDER BY c.c_mktsegment
    """
