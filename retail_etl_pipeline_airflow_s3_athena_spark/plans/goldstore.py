"""Incremental gold-table maintenance: the daily-batch production shape
applied to the reference's own gold layer.

The reference recomputes every gold aggregate from the full silver
table on each DAG run (scripts/load.py:137-180 for the daily summary,
load.py:182-213 for customer spend) — fine at pandas scale, wrong at
100 TB where the fact table is append-only and a full recompute reads
the whole corpus to refresh one day's rows.  The store discipline here
is the same one the fingerprint store and the ANN index already carry
(operators/dedupstore.py, operators/annindex.py), applied to gold:

- ``write_gold_partials(batch, path, batch_id)``: ONE batch-sized pass
  aggregates the new batch into MERGEABLE per-key partials — exact
  integers only (row count, item sum, revenue in integer cents), each
  accumulated in DECIMAL(38,0) so no partitioning, merge order, or
  engine can drift them.  Written to the ``batch=<id>`` partition
  directory with overwrite, so REPLAYING a failed batch is idempotent:
  the partition is replaced, never double-counted.  Cost per ingest is
  O(batch), corpus-independent.
- ``serve_gold_daily(spark, path)`` / ``serve_gold_top_customers``:
  merge = one groupBy-SUM over the partial store (rows = #batches ×
  #distinct keys — KB-to-MB-scale against a 100 TB fact table), then
  derive the finals with EXACTLY the arithmetic of plans/gold.py
  (same integers, same single float division at the end), so the
  served table is bit-identical to a from-scratch recompute.  The
  driver gate proves this: the oracle is the plain full-recompute SQL.
- ``compact_gold_partials(spark, path)``: rewrite all accumulated
  batch partitions into ONE ``batch=__compacted__`` partition,
  bounding serve input and small-file count for the daily loop.
  Write-to-temp + atomic Hadoop FS rename (the object_store publish
  discipline): readers see the old layout or the new, never a mix.

Partial-aggregate algebra: COUNT and SUM are commutative monoids, so
per-batch partials summed at serve time equal the full-table aggregate
exactly — PROVIDED the per-row terms are exact integers.  That is what
functions/money.cents guarantees (revenue partials are BIGINT cents,
never floats), and why ``revenue`` serves as
``CAST(SUM(partial) AS DOUBLE) / 100`` — the same one lossy division
functions/money.money_sum performs, applied to the same exact integer.
AVG-shaped finals decompose into the (sum, count) partial pair the
same way — implemented for product performance's ``avg_price``
(``product_partials`` / ``serve_gold_product_performance``): the
merged exact sum and merged non-null count divide once at serve in
money_avg's exact order.

Scale notes (100 TB):
- The batch aggregation is a single shuffle with map-side partial
  hash-agg on the date/customer key — the canonical scalable plan.
- Serving never touches the fact table: it reads only the partial
  store.  At steady state (compact weekly, ~7 live batches) the daily
  summary store is ~7 rows/day and the spend store ~7 rows/customer
  touched — both orders of magnitude under the fact table.
- Idempotent replay via partition overwrite is what makes the loop
  safe under retry-on-failure orchestration (the reference's Airflow
  DAG retries tasks; a retried pandas load would double-append).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import (
    hadoop_fs,
    swap_dir,
    write_schema_manifest,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import cents
from retail_etl_pipeline_airflow_s3_athena_spark.sources.readers import read_parquet
from retail_etl_pipeline_airflow_s3_athena_spark.sources.writers import (
    data_schema,
    write_keeping_manifest,
)

COMPACTED = "__compacted__"

_DAILY_PARTIALS = ["orders_part", "items_part", "revenue_cents_part"]
_SPEND_PARTIALS = ["orders_part", "items_part", "spent_cents_part"]


def daily_partials(batch: DataFrame) -> DataFrame:
    """Per-sale-date mergeable partials of one batch of
    sale_transactions rows.  Mirrors plans/gold.daily_sales_summary's
    row pipeline exactly (to_date -> drop null dates -> line revenue)
    but stops at the exact-integer partials instead of deriving
    finals."""
    return (
        batch.withColumn("sale_date", F.to_date("order_date"))
        .filter(F.col("sale_date").isNotNull())
        .withColumn(
            "line_revenue_cents",
            cents(F.col("unit_price") * F.col("quantity")),
        )
        .groupBy("sale_date")
        .agg(
            F.count("transaction_id")
            .cast("decimal(38,0)")
            .alias("orders_part"),
            F.sum(F.col("quantity").cast("decimal(38,0)")).alias(
                "items_part"
            ),
            F.sum(F.col("line_revenue_cents").cast("decimal(38,0)")).alias(
                "revenue_cents_part"
            ),
        )
    )


def spend_partials(batch: DataFrame) -> DataFrame:
    """Per-customer mergeable partials (plans/gold.customer_spend's
    exact arithmetic, stopped at the partials)."""
    return (
        batch.withColumn(
            "line_revenue_cents",
            cents(F.col("unit_price") * F.col("quantity")),
        )
        .groupBy("customer_id")
        .agg(
            F.count("transaction_id")
            .cast("decimal(38,0)")
            .alias("orders_part"),
            F.sum(F.col("quantity").cast("decimal(38,0)")).alias(
                "items_part"
            ),
            F.sum(F.col("line_revenue_cents").cast("decimal(38,0)")).alias(
                "spent_cents_part"
            ),
        )
    )


def _write_partition(partials: DataFrame, path: str, batch_id: str) -> None:
    """Overwrite exactly the ``batch=<id>`` partition directory — the
    idempotent-replay primitive.  A retried batch replaces its own
    partition; other batches' partitions are untouched, and so is the
    store's schema manifest while the partials' schema matches it."""
    if "=" in batch_id or "/" in batch_id:
        raise ValueError(f"invalid batch_id {batch_id!r}")
    write_keeping_manifest(
        lambda: partials.write.mode("overwrite").parquet(f"{path}/batch={batch_id}"),
        partials, path,
    )


def write_gold_partials(batch: DataFrame, path: str, batch_id: str) -> None:
    """Ingest one batch into the daily-summary partial store.

    If the store carries a retention watermark (retain_gold_daily),
    a batch touching any sale_date at or behind it is REFUSED: those
    dates' partials were already folded into ``batch=__compacted__``,
    so re-ingesting them would double-count — the one failure mode
    the idempotent partition overwrite can't absorb.  Late data
    behind the watermark goes through a backfill recompute instead."""
    partials = daily_partials(batch)
    wm = read_gold_watermark(batch.sparkSession, path)
    if wm is not None:
        cutoff = dt.date.fromisoformat(wm)
        n_late = partials.filter(
            F.col("sale_date") <= F.lit(cutoff)
        ).count()
        if n_late:
            raise ValueError(
                f"write_gold_partials: batch {batch_id!r} carries "
                f"{n_late} sale_date key(s) at or behind the retention "
                f"watermark {wm} — already folded; use a backfill "
                "recompute for late data behind the watermark"
            )
    _write_partition(partials, path, batch_id)


def write_spend_partials(batch: DataFrame, path: str, batch_id: str) -> None:
    """Ingest one batch into the customer-spend partial store."""
    _write_partition(spend_partials(batch), path, batch_id)


def _merged(spark: SparkSession, path: str, key: str,
            partial_cols: list[str]) -> DataFrame:
    """groupBy-SUM merge of the partial store.  DECIMAL(38,0) sums of
    DECIMAL(38,0) partials are exact; the ``batch`` partition column is
    read for free from the directory layout and dropped by the
    aggregation.  The store is read through its schema manifest."""
    store = read_parquet(spark, path)
    return store.groupBy(key).agg(
        *[F.sum(c).cast("decimal(38,0)").alias(c) for c in partial_cols]
    )


def serve_gold_daily(spark: SparkSession, path: str) -> DataFrame:
    """The merged daily summary, bit-identical to
    plans/gold.daily_sales_summary over the union of all ingested
    batches: finals derive from the exact merged integers with the
    same casts and the same single float division."""
    m = _merged(spark, path, "sale_date", _DAILY_PARTIALS)
    return m.select(
        "sale_date",
        F.col("orders_part").cast("long").alias("total_orders"),
        F.col("items_part").cast("long").alias("total_items"),
        (F.col("revenue_cents_part").cast("double") / F.lit(100.0)).alias(
            "revenue"
        ),
    ).orderBy("sale_date")


def serve_gold_top_customers(
    spark: SparkSession, path: str, customers: DataFrame, k: int = 10
) -> DataFrame:
    """Merged top-k customers, bit-identical to plans/gold.top_customers
    over the union of all ingested batches.  The dim join stays
    broadcast; the merge is one small shuffle over the partial store."""
    m = _merged(spark, path, "customer_id", _SPEND_PARTIALS)
    spend = m.select(
        "customer_id",
        F.col("orders_part").cast("long").alias("order_count"),
        F.col("items_part").cast("long").alias("total_items"),
        (F.col("spent_cents_part").cast("double") / F.lit(100.0)).alias(
            "total_spent"
        ),
    )
    return (
        spend.join(F.broadcast(customers), "customer_id", "left")
        .orderBy(F.desc("total_spent"), F.asc("customer_id"))
        .limit(k)
    )


def compact_gold_partials(
    spark: SparkSession, path: str, key: str, partial_cols: list[str]
) -> dict:
    """Fold all accumulated batch partitions into ONE
    ``batch=__compacted__`` partition.  Content-preserving by the
    monoid argument (a SUM of SUMs), so served tables are bit-identical
    before/after — asserted in tests and by the gate oracle.
    Crash-recoverable swap via write-to-temp + aside-rename
    (functions/fsutil.swap_dir)."""
    merged = _merged(spark, path, key, partial_cols)
    tmp = f"{path}__compacting"
    merged.write.mode("overwrite").parquet(f"{tmp}/batch={COMPACTED}")
    write_schema_manifest(spark, tmp, data_schema(merged))
    swap_dir(spark, path, tmp, "compact_gold_partials")
    return {
        "batches_after": read_parquet(spark, path)
        .select("batch")
        .distinct()
        .count(),
    }


def compact_gold_daily(spark: SparkSession, path: str) -> dict:
    return compact_gold_partials(spark, path, "sale_date", _DAILY_PARTIALS)


# ---------------------------------------------------------------------------
# Product-performance store: the AVG-shaped final
# ---------------------------------------------------------------------------

_PRODUCT_PARTIALS = [
    "sold_part", "qty_part", "price_cents_part", "price_cnt_part",
]


def product_partials(batch: DataFrame) -> DataFrame:
    """Per-product mergeable partials for plans/gold.product_performance
    — the AVG-shaped final (`avg_price`) decomposes into the
    (sum, count) partial PAIR: exact 1e-8-scaled price cents summed in
    DECIMAL(38,0) plus the non-null price count, divided once at
    serve (the money_avg arithmetic, deferred across batches)."""
    price_cents = cents(F.col("unit_price"), 8)
    return batch.groupBy("product_id").agg(
        F.count("transaction_id").cast("decimal(38,0)").alias("sold_part"),
        F.sum(F.col("quantity").cast("decimal(38,0)")).alias("qty_part"),
        F.sum(price_cents.cast("decimal(38,0)")).alias("price_cents_part"),
        F.count(price_cents).cast("decimal(38,0)").alias("price_cnt_part"),
    )


def write_product_partials(batch: DataFrame, path: str, batch_id: str) -> None:
    """Ingest one batch into the product-performance partial store."""
    _write_partition(product_partials(batch), path, batch_id)


def serve_gold_product_performance(
    spark: SparkSession, path: str, products: DataFrame
) -> DataFrame:
    """Merged product performance, bit-identical to
    plans/gold.product_performance over the union of all ingested
    batches: COUNT/SUM partials re-sum exactly; avg_price divides the
    merged exact integers in the same left-associated order
    (sum / count / 1e8) and rounds once — money_avg's arithmetic
    applied to merged partials."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import dround

    m = _merged(spark, path, "product_id", _PRODUCT_PARTIALS)
    perf = m.select(
        "product_id",
        F.col("sold_part").cast("long").alias("times_sold"),
        F.col("qty_part").cast("long").alias("total_quantity"),
        dround(
            F.col("price_cents_part").cast("double")
            / F.col("price_cnt_part").cast("double")
            / F.lit(float(10**8)),
            4,
        ).alias("avg_price"),
    )
    return perf.join(F.broadcast(products), "product_id", "left").orderBy(
        F.desc("times_sold"), F.asc("product_id")
    )


# ---------------------------------------------------------------------------
# Retention: the last piece of the daily-loop lifecycle (r9 verdict #6)
# ---------------------------------------------------------------------------

_WATERMARK_SUFFIX = "__watermark"


def read_gold_watermark(spark: SparkSession, path: str) -> str | None:
    """The store's retention watermark (ISO date string) or None.

    Encoded as the NAME of a marker file under ``<path>__watermark/``
    (max name wins) — name-only storage needs no byte I/O through the
    Hadoop FS API and works identically on local FS, HDFS, and s3a."""
    jvm, fs = hadoop_fs(spark, path)
    wm_dir = jvm.org.apache.hadoop.fs.Path(path + _WATERMARK_SUFFIX)
    if not fs.exists(wm_dir):
        return None
    names = [s.getPath().getName() for s in fs.listStatus(wm_dir)]
    return max(names) if names else None


def _write_gold_watermark(spark: SparkSession, path: str, cutoff: str) -> None:
    jvm, fs = hadoop_fs(spark, path)
    wm_dir = path + _WATERMARK_SUFFIX
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(wm_dir))
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{wm_dir}/{cutoff}"), True
    ).close()


def retain_gold_daily(
    spark: SparkSession, path: str, keep_days: int
) -> dict:
    """Watermark-style retention for the daily-summary store: fold
    every partial row whose ``sale_date`` is more than ``keep_days``
    behind the served frontier (max sale_date in the store) into the
    ``batch=__compacted__`` partition, and DROP those rows from the
    live batch partitions.  Content-preserving by the same SUM-of-SUMs
    monoid argument as compaction — ``serve_gold_daily`` is
    bit-identical to a full recompute before and after (gate-asserted:
    gold_store_retained shares the full-recompute oracle).

    What retention buys at 100 TB: live batch partitions are the
    idempotent-replay window.  Without expiry they grow forever (one
    partition per batch × every date each batch touched); with it the
    replayable window is bounded at ``keep_days`` of keys and
    everything older lives exactly once in the compacted partition.
    The recorded watermark then REFUSES replays behind the fold
    (write_gold_partials raises) — replaying a batch whose dates were
    already folded would double-count, the one failure mode partition
    overwrite can't fix.  Late data behind the watermark must go
    through a backfill recompute, the standard watermark contract
    (Structured Streaming drops late rows the same way).

    Plan shape: one scan of the (KB-to-MB-scale) partial store, one
    groupBy merge of the expired rows, one partitioned write, atomic
    swap.  Never touches the fact table."""
    # batch ids are STRINGS even when they look numeric (the streaming
    # writer keys partitions by Spark's integer batchId): partition
    # type inference would otherwise type `batch` BIGINT and the
    # `__compacted__` literal could never join the column (caught by
    # test_streaming_loop_composes_with_retention)
    store = read_parquet(spark, path).withColumn(
        "batch", F.col("batch").cast("string")
    )
    frontier_row = store.agg(F.max("sale_date").alias("f")).collect()[0]
    if frontier_row["f"] is None:
        return {"cutoff": None, "folded_dates": 0, "batches_after": 0}
    cutoff = frontier_row["f"] - dt.timedelta(days=keep_days)
    expired = store.filter(F.col("sale_date") <= F.lit(cutoff))
    folded = (
        expired.groupBy("sale_date")
        .agg(
            *[
                F.sum(c).cast("decimal(38,0)").alias(c)
                for c in _DAILY_PARTIALS
            ]
        )
        .withColumn("batch", F.lit(COMPACTED))
    )
    live = store.filter(F.col("sale_date") > F.lit(cutoff))
    new_store = folded.unionByName(live.select(*folded.columns))
    tmp = f"{path}__retaining"
    new_store.write.mode("overwrite").partitionBy("batch").parquet(tmp)
    write_schema_manifest(spark, tmp, data_schema(new_store, ("batch",)))
    n_folded = folded.count()
    swap_dir(spark, path, tmp, "retain_gold_daily")
    _write_gold_watermark(spark, path, cutoff.isoformat())
    return {
        "cutoff": cutoff.isoformat(),
        "folded_dates": n_folded,
        "batches_after": read_parquet(spark, path)
        .select("batch")
        .distinct()
        .count(),
    }
