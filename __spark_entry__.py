"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator surface from
SURVEY.md §2 as (spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives
the DuckDB-equivalent SQL over the same parquet tables.  Column names
and types are aligned pairwise (aggregates aliased identically on both
sides; integer sums CAST to BIGINT in DuckDB to defeat HUGEINT
promotion; double aggregates rounded on both sides so accumulation
order can't flip the hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.operators import asof as asof_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import bpe as bpe_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import cluster as cluster_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import decontam as decontam_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import dedup as dedup_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import dsir as dsir_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import drift as drift_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import mixing as mixing_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import events as event_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import multimodal as mm_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import annindex as annindex_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import dedupstore as store_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import imagehash as ih_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import jpeg as jpeg_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import png as png_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import avi as avi_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import bmp as bmp_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import gif as gif_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import archive as archive_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import router as router_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import html as html_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import videodup as vdup_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import robots as robots_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import sitemap as sitemap_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import cdx as cdx_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import links as links_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import url as url_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import warc as warc_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import wav as wav_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import pq as pq_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import scd as scd_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import similarity as sim_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import (
    rangejoin as rangejoin_ops,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators import text as text_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import unigram as unigram_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import classifier as clf_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import dround, sql_dround
from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import (
    exact_sum,
    int_avg,
    money_avg,
    money_sum,
    revenue_e4,
    revenue_sum,
    sql_exact_sum,
    sql_int_avg,
    sql_money_avg,
    sql_money_sum,
    sql_revenue_e4,
    sql_revenue_sum,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators import (
    training as training_ops,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators import quantize as quant_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import datacard as datacard_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import layout as layout_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import regress as regress_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import skewreport as skew_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import spans as span_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import vocab as vocab_ops
from retail_etl_pipeline_airflow_s3_athena_spark.operators import winnow as winnow_ops
from retail_etl_pipeline_airflow_s3_athena_spark.functions import sampling, sketches
from retail_etl_pipeline_airflow_s3_athena_spark.plans import (
    analytics,
    crawl as crawl_plans,
    gold,
    goldstore,
    relational,
    retail_views,
)
from retail_etl_pipeline_airflow_s3_athena_spark.sources import readers, writers
from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import cents, sql_cents
from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    attach_cached_deps,
    carried_deps,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def _csv_array(col: str):  # noqa: ANN202 - Column
    """Render an array<numeric> column as a canonical CSV string
    (``1,7,3``) for the driver gate: the harness canonicalizer hashes
    scalar cells only, so no ``queries()`` output may carry an array
    column (r7 verdict #1; enforced by test_gate_schemas.py)."""
    return F.concat_ws(
        ",", F.transform(F.col(col), lambda x: x.cast("string"))
    )


def _csv_oracle(sql: str, array_cols: list[str], other_cols: list[str],
                order_by: str) -> str:
    """Wrap an array-emitting oracle query so the listed columns come
    back as the same canonical CSV strings `_csv_array` produces."""
    proj = ", ".join(
        other_cols
        + [
            f"COALESCE(array_to_string({c}, ','), '') AS {c}"
            for c in array_cols
        ]
    )
    return f"SELECT {proj} FROM ({sql}) ORDER BY {order_by}"


# ---------------------------------------------------------------------------
# Retail gold tables (SURVEY.md §2.4 A1-A5, §2.3 J1-J4, §2.5 O1-O3)
# ---------------------------------------------------------------------------

def _q_daily_sales_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.daily_sales_summary(retail_views.sale_transactions(spark, sf_dir))


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.top_customers(
        retail_views.sale_transactions(spark, sf_dir),
        retail_views.customers(spark, sf_dir),
    )


def _q_product_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.product_performance(
        retail_views.sale_transactions(spark, sf_dir),
        retail_views.products(spark, sf_dir),
    )


def _q_store_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.store_performance(
        retail_views.sale_transactions(spark, sf_dir),
        retail_views.stores(spark, sf_dir),
    )


def _gold_batches(spark: SparkSession, sf_dir: str):
    """The incremental-gold fixture split: founding corpus + two
    date-range batches that exactly tile the fact table (so the
    full-recompute oracle ranges over founding ∪ b1 ∪ b2)."""
    st = retail_views.sale_transactions(spark, sf_dir)
    d = F.to_date("order_date")
    return (
        st.filter(d < "1998-06-01"),
        st.filter((d >= "1998-06-01") & (d < "1998-09-01")),
        st.filter(d >= "1998-09-01"),
    )


def _q_gold_store_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental gold maintenance (plans/goldstore.py): found the
    daily-summary partial store, ingest two batches (one REPLAYED —
    the Airflow-retry case; partition overwrite makes it idempotent),
    serve the merged summary.  Oracle = the plain from-scratch
    daily_sales_summary SQL over ALL rows: the store must be
    bit-identical to a full recompute (same exact integers, same one
    float division).  Reference analog: scripts/load.py:137-180
    recomputes this table per DAG run."""
    import tempfile

    b0, b1, b2 = _gold_batches(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="goldstore_daily_gate_")
    goldstore.write_gold_partials(b0, path, "founding")
    goldstore.write_gold_partials(b1, path, "b1")
    goldstore.write_gold_partials(b1, path, "b1")  # retry replay
    goldstore.write_gold_partials(b2, path, "b2")
    return goldstore.serve_gold_daily(spark, path)


def _q_gold_store_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loop PLUS its maintenance job: found → ingest b1 → COMPACT
    (all batch partitions folded into one; exact by the SUM-of-SUMs
    monoid argument) → ingest b2 against the compacted store → serve.
    Same full-recompute oracle — compaction must be invisible to the
    served values."""
    import tempfile

    b0, b1, b2 = _gold_batches(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="goldstore_comp_gate_")
    goldstore.write_gold_partials(b0, path, "founding")
    goldstore.write_gold_partials(b1, path, "b1")
    goldstore.compact_gold_daily(spark, path)
    goldstore.write_gold_partials(b2, path, "b2")
    return goldstore.serve_gold_daily(spark, path)


def _q_gold_store_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full daily-loop LIFECYCLE (r9 verdict #6): found → ingest
    b1 → RETAIN (fold every sale_date >120 days behind the frontier
    into batch=__compacted__, drop it from the live replay window,
    record the watermark) → ingest b2 against the retained store →
    serve.  Retention must be invisible to the served values — the
    oracle is the same from-scratch daily_sales_summary SQL over ALL
    rows.  Replays behind the recorded watermark are refused
    (tests/test_goldstore.py pins the double-count hazard)."""
    import tempfile

    b0, b1, b2 = _gold_batches(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="goldstore_ret_gate_")
    goldstore.write_gold_partials(b0, path, "founding")
    goldstore.write_gold_partials(b1, path, "b1")
    goldstore.retain_gold_daily(spark, path, keep_days=120)
    goldstore.write_gold_partials(b2, path, "b2")
    return goldstore.serve_gold_daily(spark, path)


def _q_gold_store_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AVG-shaped incremental gold final: product performance's
    avg_price decomposes into the (exact 1e-8-cents sum, non-null
    count) partial pair, merged across founding + 2 batches (+ one
    replay) and divided ONCE at serve in money_avg's exact order.
    Oracle = the from-scratch product_performance SQL."""
    import tempfile

    b0, b1, b2 = _gold_batches(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="goldstore_prod_gate_")
    goldstore.write_product_partials(b0, path, "founding")
    goldstore.write_product_partials(b1, path, "b1")
    goldstore.write_product_partials(b2, path, "b2")
    goldstore.write_product_partials(b2, path, "b2")  # retry replay
    return goldstore.serve_gold_product_performance(
        spark, path, retail_views.products(spark, sf_dir)
    )


def _q_gold_stream_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-FREE streaming gold maintenance
    (streaming/incremental.gold_partials_stream): sale rows streamed
    in 4 micro-batches, each foreachBatch writing its OWN goldstore
    partial partition keyed by batch_id (Spark's documented
    idempotent-sink discipline), then served by the same merge as the
    batch store.  Partial additivity makes the end state IDENTICAL to
    batch daily_sales_summary over the same rows — so the batch
    oracle is the stream's oracle (the psi/chisq/kl stream rule)."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    st = retail_views.sale_transactions(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="goldstr_src_")
    work = tempfile.mkdtemp(prefix="goldstr_wk_")
    st.repartition(4).write.mode("overwrite").parquet(src)
    q = incremental.gold_partials_stream(spark, src, work, st.schema)
    q.awaitTermination(180)
    import os

    return goldstore.serve_gold_daily(spark, os.path.join(work, "partials"))


def _q_gold_store_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend partial store (the same discipline on a
    high-cardinality key): found + two batches + replay, then serve
    top-10 with the broadcast customer dim.  Oracle = the from-scratch
    top_customers SQL.  Reference analog: scripts/load.py:182-213."""
    import tempfile

    b0, b1, b2 = _gold_batches(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="goldstore_spend_gate_")
    goldstore.write_spend_partials(b0, path, "founding")
    goldstore.write_spend_partials(b1, path, "b1")
    goldstore.write_spend_partials(b2, path, "b2")
    goldstore.write_spend_partials(b2, path, "b2")  # retry replay
    return goldstore.serve_gold_top_customers(
        spark, path, retail_views.customers(spark, sf_dir)
    )


def _analytics_query(name: str) -> QueryFn:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return analytics.run_analytics_query(spark, sf_dir, name)

    return fn


# ---------------------------------------------------------------------------
# Operator-level queries (scans, set ops, cleaning, quality, flagship agg)
# ---------------------------------------------------------------------------

def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship wide aggregation over the raw fact table (TPC-H-Q1-shaped):
    groupBy two low-cardinality keys, 6 aggregates.  Exercises partial
    hash-agg + single shuffle — the canonical 100 TB-safe plan."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dround(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            dround(
                revenue_sum("l_extendedprice", "l_discount"), 2
            ).alias("sum_disc_price"),
            dround(int_avg("l_quantity"), 4).alias("avg_qty"),
            dround(money_avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_category_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation: unique buyers per category (count-distinct
    shuffles on (category, customer_id) then re-aggregates — the
    standard two-phase distinct plan; at extreme scale swap for
    approx_count_distinct)."""
    st = retail_views.sale_transactions(spark, sf_dir)
    prod = retail_views.products(spark, sf_dir)
    return (
        st.join(F.broadcast(prod), "product_id")
        .groupBy("category")
        .agg(
            F.countDistinct("customer_id").alias("unique_buyers"),
            F.sum("quantity").alias("total_quantity"),
        )
        .orderBy("category")
    )


def _q_repeat_buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: customers with both fulfilled AND open orders
    (INTERSECT), via DataFrame.intersect."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust)


def _q_user_event_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the per-user event-type counts back to long form."""
    wide = event_ops.user_event_pivot(readers.read_events(spark, sf_dir))
    return wide.unpivot(
        "user_id",
        [f"n_{t}" for t in event_ops.EVENT_TYPES],
        "event_type",
        "n",
    ).withColumn("event_type", F.expr("substring(event_type, 3)"))


def _q_union_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET1 — union-all of two slices (reference pd.concat, load.py:93)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    urgent = orders.filter(F.col("o_orderstatus") == "F")
    return evens.unionByName(urgent)


def _q_silver_clean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver cleaning semantics (P4 null-fill, P6 date truncation) over
    the events table (reference transform.py:32-43, load.py:151)."""
    ev = readers.read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.to_date("ts").alias("event_date"),
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        F.col("user_id").isNotNull().alias("has_user"),
    )


def _q_dq_summary_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics as a one-row result (reference
    data_quality.py Q1-Q4: counts, null cells, key cardinality,
    duplicate rows)."""
    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    null_cells = None
    for c in df.columns:
        term = F.sum(F.col(c).isNull().cast("long"))
        null_cells = term if null_cells is None else null_cells + term
    base = df.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct("c_custkey").alias("distinct_keys"),
        null_cells.alias("null_cells"),
        dround(F.min("c_acctbal"), 2).alias("min_acctbal"),
    )
    distinct_rows = df.distinct().agg(F.count(F.lit(1)).alias("distinct_rows"))
    return base.crossJoin(distinct_rows)


# ---------------------------------------------------------------------------
# Text-analysis extensions (documents table)
# ---------------------------------------------------------------------------

def _q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.text_features(readers.read_documents(spark, sf_dir))


def _q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.normalize_text(readers.read_documents(spark, sf_dir))


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.corpus_stats(readers.read_documents(spark, sf_dir))


def _q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.language_id(readers.read_documents(spark, sf_dir))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: byte-sized splits starve the hash-dense operators of
    # cores on small single-file scans; no-op on real multi-split tables
    return readers.read_documents(spark, sf_dir)


def _q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # target = English docs, source = whole corpus: the canonical
    # "more of the target language/domain" DSIR setup
    docs = readers.read_documents(spark, sf_dir)
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
        carried_deps,
    )

    imp = dsir_ops.dsir_importance(docs, F.col("lang") == "en")
    # orderBy returns a FRESH DataFrame -> re-attach cache ownership
    return attach_cached_deps(imp.orderBy("doc_id"), *carried_deps(imp))


def _q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = readers.read_documents(spark, sf_dir)
    return dsir_ops.dsir_select(docs, F.col("lang") == "en", k=100)


MIX_WEIGHTS = {
    "src0": 300_000, "src1": 300_000, "src2": 200_000,
    "src3": 100_000, "src4": 100_000,
}
MIX_BUDGET = 500_000


def _q_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heavy weights on 5 sources, zero elsewhere: exercises both the
    # epoch cap (small sources asked for more than max_epochs can give)
    # and the zero-weight left-join path
    return mixing_ops.mixing_plan(
        readers.read_documents(spark, sf_dir), MIX_WEIGHTS, MIX_BUDGET
    )


def _q_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixing_ops.source_entropy(readers.read_documents(spark, sf_dir))


def _q_length_drift_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drift_ops.length_drift_chisq(readers.read_documents(spark, sf_dir))


def _q_source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drift_ops.source_token_kl(readers.read_documents(spark, sf_dir))


def _q_snapshot_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drift_ops.snapshot_value_psi(readers.read_events(spark, sf_dir))


def _q_psi_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI end-state under the oracle: events streamed in 4
    micro-batches through ``psi_count_stream``'s overwrite-by-batch
    count-delta sink, SUM-merged and scored by the shared
    ``psi_from_counts`` — pre/post bucket-count additivity makes the
    result IDENTICAL to batch snapshot_value_psi, so the batch PSI
    oracle is its oracle."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    events = readers.read_events(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="psistr_src_")
    work = tempfile.mkdtemp(prefix="psistr_wk_")
    events.select("event_id", "ts", "event_type", "value").repartition(
        4
    ).write.mode("overwrite").parquet(src)
    q = incremental.psi_count_stream(spark, src, work)
    q.awaitTermination(180)
    return incremental.psi_stream_scores(
        spark, work, events.select("event_type")
    )


def _q_chisq_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming chi-square end-state under the oracle: documents
    streamed in 4 micro-batches through ``chisq_count_stream``'s
    overwrite-by-batch count-delta sink, SUM-merged and scored by the
    shared ``chisq_from_counts`` — count additivity makes the result
    IDENTICAL to batch length_drift_chisq, so the batch oracle is its
    oracle."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    docs = readers.read_documents(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="chisqstr_src_")
    work = tempfile.mkdtemp(prefix="chisqstr_wk_")
    docs.select("doc_id", "source", "text").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    q = incremental.chisq_count_stream(spark, src, work)
    q.awaitTermination(180)
    return incremental.chisq_stream_scores(spark, work)


def _q_kl_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KL end-state under the oracle: documents streamed in
    4 micro-batches through ``kl_count_stream``'s overwrite-by-batch
    unigram-count-delta sink, SUM-merged and scored by the shared
    ``kl_from_counts`` — count additivity makes the result IDENTICAL
    to batch source_token_kl, so the batch oracle is its oracle."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    docs = readers.read_documents(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="klstr_src_")
    work = tempfile.mkdtemp(prefix="klstr_wk_")
    docs.select("doc_id", "source", "text").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    q = incremental.kl_count_stream(spark, src, work)
    q.awaitTermination(180)
    return incremental.kl_stream_scores(spark, work)


def _q_dsir_stream_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR end-state under the driver oracle: the documents
    fixture staged as 5 files -> 5 availableNow micro-batches, each
    writing its replay-idempotent per-batch count delta; the
    SUM-merged statistics score the full corpus bit-identically to the
    batch operator, so oracle_dsir_importance_sql is its oracle."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
        carried_deps,
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    docs = readers.read_documents(spark, sf_dir)
    staged = docs.select(
        "doc_id", "text", (F.col("lang") == "en").alias("tgt")
    )
    src = tempfile.mkdtemp(prefix="dsirst_src_")
    work = tempfile.mkdtemp(prefix="dsirst_wk_")
    staged.repartition(5).write.mode("overwrite").parquet(src)
    q = incremental.dsir_stat_stream(spark, src, work)
    q.awaitTermination(180)
    imp = incremental.dsir_stream_importance(spark, work, docs)
    return attach_cached_deps(imp.orderBy("doc_id"), *carried_deps(imp))


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table over the documents corpus — the merge
    loop's argmax sequence is bit-deterministic (exact LONG pair
    frequencies; freq DESC, left ASC, right ASC tie-break), so the
    VALUES-literal oracle recomputed by the pure-Python twin on the
    same parquet hash-matches exactly."""
    return bpe_ops.bpe_merges(readers.read_documents(spark, sf_dir))


def _q_bpe_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sequence-length accounting under the learned BPE
    segmentation: the corpus-side join/rollup runs for real in BOTH
    engines (only the piece-length dictionary is twin-supplied)."""
    return bpe_ops.bpe_doc_tokens(readers.read_documents(spark, sf_dir))


def _q_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus tokenized under the learned BPE — per-doc ordered
    token-id sequences (what sequence packing consumes); the
    dictionary join, vocab numbering, and ordered reassembly run as
    real relational work in BOTH engines.

    Gate projection: the array column is rendered as a canonical CSV
    string (`1,7,3`) because the driver's canonicalizer hashes scalar
    cells only (r7 verdict #1) — the array-returning operator API is
    unchanged (pack_sequences consumes it)."""
    out = bpe_ops.bpe_encode_docs(readers.read_documents(spark, sf_dir))
    deps = carried_deps(out)
    flat = out.withColumn("token_ids", _csv_array("token_ids"))
    return attach_cached_deps(flat, *deps)


def _q_bpe_encode_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once/encode-forever tokenizer: the model (merges +
    word dictionary + vocab) persisted to parquet, the corpus encoded
    against the PERSISTED tables with zero merge rounds.  On the
    training corpus this reproduces bpe_encode_docs bit-for-bit, so
    the oracle is the same (CSV-projected) twin."""
    import tempfile

    path = tempfile.mkdtemp(prefix="bpe_model_gate_")
    docs = readers.read_documents(spark, sf_dir)
    bpe_ops.write_bpe_model(docs, path)
    out = bpe_ops.encode_with_model(docs, path)
    return out.withColumn("token_ids", _csv_array("token_ids"))


def _q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE step: customers seeded as the live dimension; the
    update snapshot bumps acctbal by 10 per open order (deterministic
    delta derived from the fixtures), so customers with open orders get
    a closed-out old version + a new live one, the rest pass through."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    current = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").cast("date").alias("effective_from"),
        F.lit(None).cast("date").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    open_cnt = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    updates = cust.join(
        open_cnt, cust.c_custkey == open_cnt.o_custkey, "left"
    ).select(
        "c_custkey",
        (
            F.col("c_acctbal")
            + F.coalesce(F.col("n_open"), F.lit(0)) * F.lit(10.0)
        ).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    return scd_ops.scd2_merge(
        current, updates, "c_custkey", ["acctbal", "segment"], "1998-08-01"
    )


def _q_scd2_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 end-state under the driver oracle (VERDICT r5
    #8): two deterministic update snapshots (initial customer load,
    then the open-order acctbal bump) streamed through
    ``scd2_stream``'s merge+atomic-swap sink with maxFilesPerTrigger=1,
    final dimension returned.  The oracle composes ``oracle_scd2_sql``
    twice (merge-into-empty, then merge of batch 2), so the STREAMING
    path is value-hash-checked against pure SQL."""
    import os
    import shutil
    import tempfile
    import time

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    batch0 = cust.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    open_cnt = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    batch1 = cust.join(
        open_cnt, cust.c_custkey == open_cnt.o_custkey, "left"
    ).select(
        "c_custkey",
        (
            F.col("c_acctbal")
            + F.coalesce(F.col("n_open"), F.lit(0)) * F.lit(10.0)
        ).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    src = tempfile.mkdtemp(prefix="scd2rp_src_")
    work = tempfile.mkdtemp(prefix="scd2rp_wk_")

    def stage(df: DataFrame, name: str) -> None:
        d = os.path.join(src, "_" + name)
        df.coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(d, f), os.path.join(src, name + ".parquet")
                )
        shutil.rmtree(d, ignore_errors=True)

    stage(batch0, "u0")
    time.sleep(1.1)  # file-stream batch order is by modification time
    stage(batch1, "u1")
    q = incremental.scd2_stream(
        spark, src, work, "c_custkey", ["acctbal", "segment"], batch0.schema
    )
    q.awaitTermination(180)
    return spark.read.parquet(os.path.join(work, "dim")).select(
        "c_custkey", "acctbal", "segment",
        "effective_from", "effective_to", "is_current",
    )


def _q_hll_stream_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL end-state under the driver oracle (VERDICT r5 #8):
    the events fixture streamed through ``hll_sketch_stream``'s
    append-only register sink in multiple micro-batches, then
    max-merged and estimated.  The mergeable-sketch law makes the
    result IDENTICAL to the one-pass batch sketch, so the batch HLL
    oracle is its oracle (projected to the streamed columns)."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    ev = readers.read_events(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="hllrp_src_")
    work = tempfile.mkdtemp(prefix="hllrp_wk_")
    # several files -> several availableNow micro-batches
    ev.repartition(5).write.mode("overwrite").parquet(src)
    q = incremental.hll_sketch_stream(spark, src, work)
    q.awaitTermination(180)
    return incremental.hll_stream_estimates(spark, work)


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two customer snapshots: the old side drops
    custkey%97==0 (-> 'added' in new), the new side applies the SCD2
    acctbal bump (-> 'changed' where open orders exist) and drops
    custkey%101==0 (-> 'removed') — all four statuses exercised
    deterministically."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    old = cust.filter(F.col("c_custkey") % 97 != 0).select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    open_cnt = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_open"))
    )
    new = (
        cust.join(open_cnt, cust.c_custkey == open_cnt.o_custkey, "left")
        .select(
            "c_custkey",
            (
                F.col("c_acctbal")
                + F.coalesce(F.col("n_open"), F.lit(0)) * F.lit(10.0)
            ).alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
        .filter(F.col("c_custkey") % 101 != 0)
    )
    return scd_ops.snapshot_diff(old, new, "c_custkey", ["acctbal", "segment"])


def _q_pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.pii_redact(_docs(spark, sf_dir))


def _q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontam_ops.decontaminate(_docs(spark, sf_dir), "source = 'src0'")


def _q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.corpus_shuffle(
        _docs(spark, sf_dir).select("doc_id", "source"), ["doc_id"]
    )


def _q_source_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.source_cap_docs(_docs(spark, sf_dir))


def _q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.repetition_signals(_docs(spark, sf_dir))


def _q_compression_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (r11, the CCNet-style
    low-entropy detector): zlib DEFLATE ratio in e6 fixed point over
    a deterministic corpus spanning template spam / natural prose /
    near-random payloads.  Arrow mapInPandas projection (the codec
    shape); oracle: locally-recomputed VALUES literal — zlib is not
    SQL-expressible."""
    corpus = text_ops.synthesize_compression_corpus(spark, n=60)
    return text_ops.compression_signals(corpus).orderBy("doc_id")


def _q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.dedup_rate_report(readers.read_documents(spark, sf_dir))


def _q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.knn_graph(_emb(spark, sf_dir))


def _q_bigram_prob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_ops.bigram_prob_score(_docs(spark, sf_dir))


def _q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.rolling_distinct_users(readers.read_events(spark, sf_dir))


def _q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_ops.dup_triangles(_docs(spark, sf_dir))


def _q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.basket_rules(spark, sf_dir)


def _q_build_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_ops.build_training_set(_docs(spark, sf_dir))


def _q_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_ops.training_manifest(_docs(spark, sf_dir))


def _q_multimodal_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal training-set assembly (r9 verdict #3): curated
    documents + the router's DECODED media features interleaved into
    packed sequences — text token counts and media token blocks
    (pixels/samples per trainer token) first-fit packed per
    leakage-free split.  One scan per modality; the oracle composes
    the build_training_set curation SQL with a locally-recomputed
    media VALUES literal (the router-oracle discipline)."""
    docs = _docs(spark, sf_dir)
    routed = router_ops.route_media(
        router_ops.synthesize_mixed_corpus(spark, n=72)
    )
    return training_ops.multimodal_training_set(docs, routed).orderBy(
        "modality", "item_id"
    )


def _q_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal set's per-shard manifest: item/text/media
    counts, token fill, and the exact SUM-mod membership checksum —
    shard-identity provable without re-reading the corpus."""
    docs = _docs(spark, sf_dir)
    routed = router_ops.route_media(
        router_ops.synthesize_mixed_corpus(spark, n=72)
    )
    return training_ops.multimodal_manifest(docs, routed)


def _q_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rebuild audit: the 'old' corpus is the documents
    table minus a content-hash decile (the late-arriving 10%), the
    'new' corpus is the full table — the diff names exactly which
    training shards the late docs dirty and proves the rest
    byte-identical by checksum."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.dedup import _md5_hash

    docs = _docs(spark, sf_dir)
    old = docs.filter(
        _md5_hash(F.col("doc_id").cast("string")) % 10 < 9
    )
    return training_ops.manifest_diff(old, docs)


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.event_transitions(readers.read_events(spark, sf_dir))


def _q_standardize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quant_ops.standardize_embeddings(_emb(spark, sf_dir))


def _q_profile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from retail_etl_pipeline_airflow_s3_athena_spark.functions import quality

    df = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return quality.table_profile(
        df, ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )


def _q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.containment_pairs(_docs(spark, sf_dir))


def _q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_ops.cluster_size_histogram(_docs(spark, sf_dir))


def _q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.embedding_outliers(_emb(spark, sf_dir))


def _q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_ops.ngram_novelty(_docs(spark, sf_dir))


def _q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_ops.dup_span_stats(_docs(spark, sf_dir))


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_ops.dup_spans(_docs(spark, sf_dir))


def _q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_ops.strip_dup_spans(_docs(spark, sf_dir))


def _q_mixing_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixing_ops.mixing_sample(
        readers.read_documents(spark, sf_dir), MIX_WEIGHTS, MIX_BUDGET
    )


def _q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset datasheet: volume, duplication, quality-pass
    fraction, modal language — the corpus-level data card."""
    return datacard_ops.data_card(_docs(spark, sf_dir))


def _q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout diagnostic on orders: per-bucket
    (custkey x orderdate) extents — the multi-dimensional scan-pruning
    evidence behind write_zordered."""
    return layout_ops.zorder_layout(
        spark.read.parquet(f"{sf_dir}/orders.parquet")
    )


def _q_length_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer OLS fit of chars~tokens over the corpus — the
    learned statistical quality model's coefficients."""
    return regress_ops.length_model_fit(_docs(spark, sf_dir))


def _q_length_model_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by |residual| under the corpus's own
    chars~tokens fit — the Gopher/CCNet-style statistical outlier
    filter as exact integer arithmetic."""
    return regress_ops.length_model_outliers(_docs(spark, sf_dir))


def _q_event_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of events.user_id — the measurement that
    tells you which keys need salting / AQE skew splitting."""
    return skew_ops.key_skew_report(
        readers.read_events(spark, sf_dir), "user_id"
    )


def _q_salted_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment order stats THROUGH the salted-join rewrite — the
    driver-checked proof that salting is semantics-preserving (oracle
    is the PLAIN join; any salt assignment must hash-match it)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.skew import (
        salted_segment_order_stats,
    )

    return salted_segment_order_stats(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
    )


def _q_bucketed_segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment order stats THROUGH the bucketed-join path (both
    sides bucketBy custkey, SMJ-pinned) — third leg of the
    join-strategy proof set; oracle is the PLAIN join."""
    from retail_etl_pipeline_airflow_s3_athena_spark.sources import catalog as cat

    return cat.bucketed_segment_order_stats(
        spark,
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
    )


def _q_curriculum_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order over the realized mix: two
    distributed rank passes + the broadcast mixing plan."""
    return mixing_ops.curriculum_mix(
        readers.read_documents(spark, sf_dir), MIX_WEIGHTS, MIX_BUDGET
    )


def _q_encode_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_ops.encode_token_ids(_docs(spark, sf_dir))


def _q_pagerank_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_ops.pagerank_near_dups(_docs(spark, sf_dir))


def _q_dataset_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.dataset_split(
        _docs(spark, sf_dir).select("doc_id", "source"), ["doc_id"]
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.semantic_dedup(_emb(spark, sf_dir))


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontam_ops.bloom_decontaminate(_docs(spark, sf_dir), "source = 'src0'")


def _q_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontam_ops.fuzzy_decontaminate(_docs(spark, sf_dir), "source = 'src0'")


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.cms_heavy_hitters(_docs(spark, sf_dir))


def _q_near_dup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve: per-Jaccard-band recall of the banded-MinHash
    pipeline vs the exact inverted-index ground truth."""
    return dedup_ops.near_dup_recall(_docs(spark, sf_dir))


def _q_cms_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CMS end-state under the oracle: documents streamed in
    several micro-batches through ``cms_sketch_stream``'s
    overwrite-by-batch cell-delta sink, SUM-merged, probed with the
    corpus top-k — cell-count additivity makes the result IDENTICAL
    to the one-pass batch sketch, so the batch CMS oracle is its
    oracle."""
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.streaming import incremental

    docs = _docs(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="cmsstr_src_")
    work = tempfile.mkdtemp(prefix="cmsstr_wk_")
    docs.select("doc_id", "source", "text").repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    q = incremental.cms_sketch_stream(spark, src, work)
    q.awaitTermination(180)
    return incremental.cms_stream_heavy_hitters(spark, work, docs)


def _q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_ops.winnow_fingerprints(_docs(spark, sf_dir))


def _q_winnow_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_ops.winnow_shared_pairs(_docs(spark, sf_dir))


def _q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.fuzzy_name_matches(
        spark.read.parquet(f"{sf_dir}/part.parquet")
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.exact_dedup(_docs(spark, sf_dir))


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.minhash_signatures(_docs(spark, sf_dir))


def _q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.lsh_candidate_pairs(_docs(spark, sf_dir))


def _q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.near_dup_pairs(_docs(spark, sf_dir))


def _q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cluster_ops.near_dup_clusters(_docs(spark, sf_dir))


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality-aware canonicalization: keep the best-written variant per
    # near-dup cluster (production curation's pick) instead of min-id
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
        carried_deps,
    )

    kept = cluster_ops.dedup_keep_best(_docs(spark, sf_dir))
    out = kept.orderBy("doc_id")
    return attach_cached_deps(out, *carried_deps(kept))


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.source_overlap(_docs(spark, sf_dir))


def _q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the end-product: canonical doc per near-dup cluster, i.e. the
    # corpus a training run would actually consume
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
        carried_deps,
    )

    kept = cluster_ops.dedup_keep(_docs(spark, sf_dir))
    # select() returns a fresh DataFrame without the cache-ownership
    # tag — carry it or the component label table leaks its persist
    return attach_cached_deps(
        kept.select("doc_id", "source", "lang"), *carried_deps(kept)
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.simhash_signatures(_docs(spark, sf_dir))


def _q_blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.blocked_jaccard_pairs(_docs(spark, sf_dir))


def _q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.simhash_near_dup(_docs(spark, sf_dir))


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vocab_ops.tfidf_top_terms(_docs(spark, sf_dir))


def _q_incremental_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # src1 plays the incoming batch; the rest is the existing corpus
    return dedup_ops.incremental_near_dups(
        _docs(spark, sf_dir), "source = 'src1'"
    )


# ---------------------------------------------------------------------------
# Similarity-search extensions (embeddings table)
# ---------------------------------------------------------------------------

def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return readers.read_embeddings(spark, sf_dir)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.cosine_topk(_emb(spark, sf_dir))


def _q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.label_centroids(_emb(spark, sf_dir))


def _q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.ivf_topk(_emb(spark, sf_dir))


def _q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.kmeans_refine(_emb(spark, sf_dir))


def _q_kmeans_two_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.kmeans_fit(_emb(spark, sf_dir), rounds=2)


def _q_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook training (Jégou et al. 2011): per-subspace Lloyd
    rounds on exact dround(6) means — the oracle unrolls the identical
    rounds into CTEs, so the trained books are hash-exact."""
    return pq_ops.pq_codebooks(_emb(spark, sf_dir))


def _q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each vector's M codeword ids — the 64x-compressed corpus
    representation (the 100 TB memory story for ANN serving).

    Gate projection: codes rendered as a canonical CSV string (driver
    canonicalizer hashes scalar cells only — r7 verdict #1); the
    array-returning operator API is unchanged."""
    out = pq_ops.pq_codes(_emb(spark, sf_dir))
    deps = carried_deps(out)
    flat = out.withColumn("codes", _csv_array("codes"))
    return attach_cached_deps(flat, *deps)


def _q_pq_sdc_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric-distance (SDC) near-dup over COMPRESSED codes
    (Jégou §III.A): same-IVF-cell pairs scored by an M·K² broadcast
    codeword-distance table — corpus dedup that never re-reads a raw
    vector after encoding."""
    out = pq_ops.pq_sdc_near_dup(_emb(spark, sf_dir))
    return attach_cached_deps(
        out.orderBy("id_a", "id_b"), *carried_deps(out)
    )


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k under the PQ approximation: per-query codeword
    distance tables as exact e6 integers, corpus scored by an exact
    BIGINT sum of M lookups — no per-pair vector math at query time."""
    return pq_ops.pq_topk(_emb(spark, sf_dir))


def _q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the ADC scan vs the exact scan on the same integer
    distance grid — the ANN eval harness as a first-class query."""
    return pq_ops.pq_recall(_emb(spark, sf_dir))


def _q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS-style, non-residual): coarse cells prune the
    candidate set, PQ codes replace the vectors — each query's ADC
    scan touches ~nprobe/K of an M-byte-per-vector code table."""
    return pq_ops.ivf_pq_topk(_emb(spark, sf_dir))


def _q_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding (FAISS IVFPQ proper): codebooks
    trained on v − centroid(cell), ADC tables per (query, probed
    cell) — the recall refinement over the non-residual twin."""
    return pq_ops.ivf_pq_residual_topk(_emb(spark, sf_dir))


def _q_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The Arrow/numpy form is the production path (also used inside
    # embedding_near_dup_lsh): the unrolled 16x64 expression form
    # overflows janino's 64 KB method limit and evaluates interpreted
    # (~50x slower, measured at sf0.1).  Both forms are bit-identical
    # (test-enforced) and share the same DuckDB oracle.
    return sim_ops.rp_lsh_signatures_gemm(_emb(spark, sf_dir))


def _q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim_ops.embedding_near_dup(_emb(spark, sf_dir))


def _q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bucketed (rp-LSH bands -> exact verify) scale path; the oracle
    # twin applies the identical banding, so the gate stays hash-exact
    return sim_ops.embedding_near_dup_lsh(_emb(spark, sf_dir))


def _q_cosine_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow/numpy physical plan for the same logical query; bit-identical
    # to cosine_topk (cumsum mirrors the left-assoc fold), so it shares
    # the full value-hash oracle.
    return sim_ops.cosine_topk_gemm(_emb(spark, sf_dir))


def _q_embedding_near_dup_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fp64 cumsum accumulation mirrors the SQL fold bit-for-bit, so this
    # shares oracle_embedding_near_dup_sql with the expression operator.
    return sim_ops.embedding_near_dup_gemm(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Event-stream extensions (events table)
# ---------------------------------------------------------------------------

def _q_windowed_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.windowed_event_stats(readers.read_events(spark, sf_dir))


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.sessionize(readers.read_events(spark, sf_dir))


def _q_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.topk_events_per_type(readers.read_events(spark, sf_dir))


def _q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.session_window_stats(readers.read_events(spark, sf_dir))


def _q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.user_event_pivot(readers.read_events(spark, sf_dir))


def _q_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.extract_props(readers.read_events(spark, sf_dir))


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_ops.asof_join_events(readers.read_events(spark, sf_dir))


def _q_event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.event_value_quantiles(readers.read_events(spark, sf_dir))


def _q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.funnel_conversion(readers.read_events(spark, sf_dir))


def _q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.weekly_retention(readers.read_events(spark, sf_dir))


def _q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_ops.value_histogram(readers.read_events(spark, sf_dir))


def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join analytical query (TPC-H Q3 shape): segment filter ->
    3-table join with date predicates pushed to both scans -> grouped
    revenue -> top-10.  Exercises join ordering, filter pushdown, and
    TakeOrderedAndProject in one plan."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.expr("o_orderdate < TIMESTAMP_NTZ'1998-06-15 00:00:00'")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.expr("l_shipdate > TIMESTAMP_NTZ'1998-06-15 00:00:00'")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dround(
                revenue_sum("l_extendedprice", "l_discount"), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Training-data prep extensions (chunking, packing, sampling, sketches,
# range join)
# ---------------------------------------------------------------------------

def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_ops.doc_chunks(readers.read_documents(spark, sf_dir))


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_ops.pack_sequences(readers.read_documents(spark, sf_dir))


def _q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = training_ops.pack_sequences(readers.read_documents(spark, sf_dir))
    return training_ops.bin_stats(packed)


def _q_curated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_ops.curated_docs(readers.read_documents(spark, sf_dir))


def _q_quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_ops.quality_percentile_filter(
        readers.read_documents(spark, sf_dir)
    )


def _q_hash_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.hash_sample(
        readers.read_events(spark, sf_dir), ["event_id"], 0.1
    ).select("event_id", "user_id", "event_type", "value")


def _q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sampling.stratified_hash_sample(
        readers.read_documents(spark, sf_dir),
        stratum_col="lang",
        rates={"en": 0.25, "de": 0.75},
        key_cols=["doc_id"],
        default_rate=1.0,
    ).select("doc_id", "lang", "source")


def _q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.hll_distinct(
        readers.read_events(spark, sf_dir), "user_id", ["event_type"]
    )


def _q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rangejoin_ops.concurrent_session_activity(
        readers.read_events(spark, sf_dir)
    )


def _q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-table join (TPC-H Q5 shape): revenue by nation where customer
    and supplier are co-national, one region.  Exercises deep join
    reordering: region→nation prune first (broadcast), the
    customer⋈orders⋈lineitem⋈supplier chain shuffles on its keys; the
    co-nationality predicate rides the supplier join.  Revenue is the
    exact 1e-4-integer accumulation (functions/money.py) — order
    independent at any scale."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(
        F.col("r_name") == "ASIA"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            revenue_sum("l_extendedprice", "l_discount").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def _q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈part with a conditional aggregate (TPC-H Q14 shape):
    PROMO revenue share.  One fact-dim join (part broadcastable at
    fixture scale, AQE decides) + a single global aggregate."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import dround

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    disc_e4 = revenue_e4("l_extendedprice", "l_discount")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                exact_sum(
                    F.when(F.col("p_type") == "PROMO", disc_e4).otherwise(
                        F.lit(0)
                    )
                )
                / 1e4
            ).alias("promo_revenue"),
            revenue_sum("l_extendedprice", "l_discount").alias(
                "total_revenue"
            ),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            dround(
                F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
                4,
            ).alias("promo_pct"),
        )
    )


def _q_resize_raw_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raw-buffer image resize (numpy nearest-neighbor over MM02
    payloads) through the Arrow mapInPandas path; returns dims +
    payload checksums.  Oracle: a VALUES literal recomputed locally in
    plain Python at oracle-build time — it verifies the DISTRIBUTED
    execution (partitioning, Arrow batching, buffer round-trip)
    reproduces the local single-process computation bit-for-bit."""
    media = mm_ops.synthesize_raw_images(spark, n=40)
    return (
        mm_ops.resize_media(media, 8, 8)
        .select("media_id", "width", "height", "channels", "checksum")
        .orderBy("media_id")
    )


def _q_audio_features_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM audio features (integer-exact RMS / zero-crossings /
    peak) via Arrow mapInPandas; oracle = locally-recomputed VALUES
    literal (verifies distributed == local bit-for-bit)."""
    media = mm_ops.synthesize_raw_audio(spark, n=40)
    return mm_ops.audio_features(media).orderBy("media_id")


def _q_video_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL raw-clip frame sampling (every 2nd frame materialized,
    checksummed, integer mean-luma) via Arrow mapInPandas; oracle =
    locally-recomputed VALUES literal."""
    media = mm_ops.synthesize_raw_video(spark, n=25)
    return mm_ops.sample_raw_frames(media, every_n=2).orderBy(
        "media_id", "frame_idx"
    )


def _q_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode: stdlib zlib inflate + RFC 2083
    integer defilter over 8-bit PNG payloads (operators/png.py),
    Arrow mapInPandas, integer stats + decoded-pixel checksums out.
    Oracle: locally-recomputed VALUES literal — verifies the
    DISTRIBUTED decode reproduces the local one bit-for-bit (the
    resize_raw_images pattern)."""
    media = png_ops.synthesize_png_images(spark, n=40)
    return png_ops.png_features(media).orderBy("media_id")


def _q_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL uncompressed-raster decode (r12): BITMAPINFOHEADER parse,
    palette expansion, 4-byte row padding, bottom-up AND top-down row
    orders over 24-bit / 8-bit-palette BI_RGB payloads
    (operators/bmp.py), Arrow mapInPandas, integer stats +
    decoded-pixel checksums out.  Oracle: locally-recomputed VALUES
    literal (the png_features pattern)."""
    media = bmp_ops.synthesize_bmp_images(spark, n=40)
    return bmp_ops.bmp_features(media).orderBy("media_id")


def _q_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode: stdlib Huffman + dequant + integer
    Q14 IDCT over valid SOF0 4:4:4 payloads (operators/jpeg.py), Arrow
    mapInPandas, integer stats + decoded-pixel checksums out.  Oracle:
    locally-recomputed VALUES literal — verifies the DISTRIBUTED
    decode reproduces the local one bit-for-bit (the png_features
    pattern)."""
    media = jpeg_ops.synthesize_jpeg_images(spark, n=40)
    return jpeg_ops.jpeg_features(media).orderBy("media_id")


def _q_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode: RIFF/WAVE container walk + IMA
    ADPCM nibble recurrence (operators/wav.py) over a mixed
    PCM16/ADPCM corpus, Arrow mapInPandas, exact-integer features over
    the DECODED samples.  Oracle: locally-recomputed VALUES literal —
    verifies the DISTRIBUTED decode reproduces the local one
    bit-for-bit (the jpeg_features pattern)."""
    media = wav_ops.synthesize_wav_corpus(spark, n=40)
    return wav_ops.wav_features(media).orderBy("media_id")


def _q_wav_band_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral feature extraction over COMPRESSED audio: integer
    Goertzel band energies (4 fixed Q14-literal frequencies, the
    detmath fixed-point discipline) on the decoded PCM/ADPCM samples.
    Oracle: locally-recomputed VALUES literal — the defined fixed-
    point algorithm reproduces bit-for-bit distributed."""
    media = wav_ops.synthesize_wav_corpus(spark, n=40)
    return wav_ops.wav_band_energy(media).orderBy(
        "media_id", "channel", "band_m"
    )


def _q_mjpeg_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video decode: AVI RIFF container walk + MJPEG
    frame decode (operators/avi.py over operators/jpeg.py) — every 2nd
    frame sampled WITHOUT decoding the skipped ones, integer BT.601
    luma + decoded-pixel checksums out.  Oracle: locally-recomputed
    VALUES literal (distributed == local bit-for-bit, the
    video_frame_luma pattern on a genuinely compressed container)."""
    media = avi_ops.synthesize_mjpeg_corpus(spark, n=25)
    return avi_ops.mjpeg_frame_luma(media, every_n=2).orderBy(
        "media_id", "frame_idx"
    )


def _q_gif_frame_luma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF decode: container walk + variable-width LZW +
    palette expansion (operators/gif.py), every 2nd frame sampled,
    integer BT.601 luma + decoded-pixel checksums out.  LOSSLESS codec
    (roundtrip pixel-exact, pinned in tests); oracle:
    locally-recomputed VALUES literal (distributed == local
    bit-for-bit)."""
    media = gif_ops.synthesize_gif_corpus(spark, n=25)
    return gif_ops.gif_frame_luma(media, every_n=2).orderBy(
        "media_id", "frame_idx"
    )


def _q_html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML main-content extraction round-trip (operators/html.py):
    documents wrapped distributed into realistic page templates
    (title/script/style/nav/footer boilerplate, entity-escaped
    payload) then extracted back — text must equal the original
    EXACTLY and boilerplate_e4 must match the closed-form
    dropped-char count the SQL twin re-derives."""
    return html_ops.html_extract_roundtrip(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup across codecs (operators/wav.py): clips
    fingerprinted by the dominant Goertzel band of 30 windows (60-bit
    Shazam-lite landmark hash); planted pairs are PCM16 vs lossy
    IMA-ADPCM transcodes of the same frequency-hop sequence.
    Pigeonhole band join; hybrid oracle (fingerprint VALUES + real
    SQL pairing semantics).  Completes dedup x modality: text,
    embeddings, images, video, audio."""
    media = wav_ops.synthesize_audio_dup_corpus(spark, n=30)
    return wav_ops.audio_near_dup(media).orderBy("id_a", "id_b")


def _q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip-level perceptual dedup ACROSS container formats
    (operators/videodup.py): planted duplicates arrive as raw MM04 vs
    lossy MJPEG transcodes and as byte-different GIF delay variants;
    frames hash to area-mean dHash, candidates come from the
    frame-position-keyed pigeonhole band join, a >=3-frame vote
    decides.  Hybrid oracle: frame hashes as a locally-recomputed
    VALUES literal, pairing semantics as REAL SQL."""
    media = vdup_ops.synthesize_video_corpus(spark, n=30)
    return vdup_ops.video_near_dup(media).orderBy("id_a", "id_b")


def _q_robots_rules_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt parsing, distributed (operators/robots.py):
    comment stripping, case-insensitive keys, stacked User-agent
    runs, empty-value rules dropped — the stateful group association
    as two windows over (host, line_no).  Oracle: VALUES literal from
    the LOCAL reference parser over the same fixture bodies (the
    codec twin discipline)."""
    rules = robots_ops.parse_robots(robots_ops.synthesize_robots(spark))
    return rules.orderBy("host", "agent", "rule", "pattern")


def _q_polite_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling (r12): robots-admitted captures slotted
    into per-host fetch queues at Crawl-delay spacing — the schedule
    a polite fetcher executes.  Delay precedence follows group
    selection (an exact group WITHOUT a delay means the default, not
    ``*``'s delay); malformed values are ignored by try-cast; the
    slot window is partitioned by host (per-host order is the
    politeness constraint; hosts parallelize).  Oracle: admission
    decisions nested as a CTE + the delay derivation re-derived over
    the same VALUES rules + the same window."""
    docs = _docs(spark, sf_dir)
    captures = robots_ops.with_capture_paths(docs)
    rules = robots_ops.parse_robots(robots_ops.synthesize_robots(spark))
    return robots_ops.polite_fetch_plan(
        captures, rules, robots_ops.FIXTURE_AGENT
    ).orderBy("host", "fetch_at_s", "doc_id")


def _q_robots_filter_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl admission control: every capture (host/path derived from
    doc_id) decided against its host's parsed robots.txt for one
    agent — group override, longest-match precedence, Allow beating
    Disallow on ties, ``*``/``$`` pattern semantics via dialect-shared
    LIKE...ESCAPE, missing robots.txt allowing by default.  The rules
    reach the decision through the DISTRIBUTED parser; the oracle
    re-derives them through the local reference parser and replays
    match + precedence in real SQL."""
    docs = _docs(spark, sf_dir)
    captures = robots_ops.with_capture_paths(docs)
    rules = robots_ops.parse_robots(robots_ops.synthesize_robots(spark))
    return robots_ops.robots_decisions(
        captures, rules, robots_ops.FIXTURE_AGENT
    ).orderBy("doc_id")


def _q_warc_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC round-trip under a REAL SQL oracle (stronger than the
    VALUES codecs): the documents table packed into one gzip-membered
    WARC/1.0 archive per source (applyInPandas), then ingested back by
    the distributed reader (operators/warc.py).  Any byte lost in
    framing, gzip membering, HTTP enveloping, or UTF-8 handling flips
    the hash against `SELECT doc_id, source, text, octet_length(text)
    FROM documents`."""
    return warc_ops.warc_roundtrip_stats(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_sitemap_urls_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (sitemaps.org protocol, r11 — the crawl
    DISCOVERY tier pairing with robots admission): per-host sitemap
    XML built deterministically from the capture fixture, parsed to
    (host, loc, lastmod) by two dialect-shared regexes.  The oracle
    re-derives the XML CONSTRUCTION and the parse in DuckDB, so the
    gate hashes build + extraction together.

    r12: the fixture reaches the parser as WIRE BYTES — gzipped
    (.xml.gz, allowed by sitemaps.org) for even-digit hosts, plain
    UTF-8 for the rest — through sitemaps_from_bytes, so the gate
    hashes the gunzip leg too (a broken decode drops half the rows)."""
    docs = _docs(spark, sf_dir)
    return sitemap_ops.parse_sitemaps(
        sitemap_ops.sitemaps_from_bytes(
            sitemap_ops.fixture_sitemap_payloads(docs)
        )
    ).orderBy("host", "loc")


def _q_robots_declared_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Sitemap:`` directive extraction from robots.txt (r12 —
    sitemaps.org cross-spec, how crawlers actually discover the
    sitemaps the coverage audit consumes).  Stateless JVM projection;
    oracle: VALUES literal from the LOCAL twin
    (sitemap_directives_text) over the same fixture bodies."""
    rules = sitemap_ops.parse_sitemap_directives(
        robots_ops.synthesize_robots(spark)
    )
    return rules.orderBy("host", "sitemap_url")


def _q_crawl_coverage_discovered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coverage audit as a crawler actually runs it (r12): only
    robots-DECLARED sitemaps (h0/h2/h4/h5 — h1's sitemap exists but
    is undeclared, h3 has no robots.txt) are fetched (gz/plain wire
    bytes), parsed, and joined against captures; undeclared hosts'
    captures all land off-sitemap.  Oracle: the declared-host list
    locally recomputed, then the same build -> parse -> coverage SQL
    restricted to it."""
    docs = _docs(spark, sf_dir)
    return sitemap_ops.coverage_report_discovered(
        robots_ops.synthesize_robots(spark),
        sitemap_ops.fixture_sitemap_payloads(docs),
        robots_ops.with_capture_paths(docs),
    ).orderBy("host")


def _q_sitemap_index_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sitemap walk (r12 — sitemapindex files are how large
    sites actually ship discovery): parse the per-host <sitemapindex>
    for child locations, fetch exactly the named children, parse
    their urlsets.  Every fixture entry lands in exactly one named
    child, so the oracle is the FLAT fixture parse — any child lost
    or duplicated in the index walk flips the hash."""
    docs = _docs(spark, sf_dir)
    index, children = sitemap_ops.fixture_sitemap_index(docs)
    return sitemap_ops.expand_sitemap_index(index, children).orderBy(
        "host", "loc"
    )


def _q_sitemap_recrawl_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling (r12): sitemap entries whose <lastmod> is
    newer than the capture date — one (host, path) equi-join + a date
    compare over deterministic, decorrelated lastmod/captured-date
    cycles.  Full SQL oracle re-derives build -> parse -> join ->
    stale filter."""
    docs = _docs(spark, sf_dir)
    sm = sitemap_ops.parse_sitemaps(sitemap_ops.fixture_sitemaps(docs))
    caps = sitemap_ops.with_capture_dates(
        robots_ops.with_capture_paths(docs)
    )
    return sitemap_ops.recrawl_candidates(sm, caps).orderBy("host", "path")


def _q_crawl_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery-vs-capture audit (r11): sitemap entries full-outer
    joined to captures on (host, path) -> per-host sitemap size,
    capture count, matches, fetch gaps (listed but never captured —
    the fixture's phantom entries) and discovery gaps (captured but
    off-sitemap — the fixture's doc_id%4==1 rows)."""
    docs = _docs(spark, sf_dir)
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import (
        robots as robots_ops2,
    )

    sm = sitemap_ops.parse_sitemaps(sitemap_ops.fixture_sitemaps(docs))
    caps = robots_ops2.with_capture_paths(docs)
    return sitemap_ops.crawl_coverage_report(sm, caps).orderBy("host")


def _q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-level crawl dedup (operators/url.py) composed into
    the WARC front door: three deterministic capture variants per
    resource (scheme/host case, explicit :80, utm/fbclid params,
    fragment) are packed through REAL WARC/1.0 bytes
    (docs_to_warc with url_col), ingested back with raw URIs
    surfaced (warc_ingest_uris), canonicalized by built-in column
    expressions, and collapsed per canonical URL.  The oracle
    re-derives BOTH the variant construction and every
    canonicalization rule in DuckDB SQL — a rule drifting on either
    side flips the hash."""
    messy = url_ops.with_messy_url(_docs(spark, sf_dir))
    warcs = warc_ops.docs_to_warc(messy, url_col="url")
    caps = warc_ops.warc_ingest_uris(warcs)
    return url_ops.url_canonical_dedup(caps).orderBy("canonical_url")


def _q_multimodal_manifest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rebuild audit across modalities: the 'old' build is
    the documents table minus a content-hash decile AND a media corpus
    missing its last shard (54 of 72 items); the 'new' build is both
    in full.  The diff names exactly which interleaved shards the late
    text + media dirty and proves the rest checksum-identical without
    re-decoding any payload."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.dedup import _md5_hash

    docs = _docs(spark, sf_dir)
    old_docs = docs.filter(
        _md5_hash(F.col("doc_id").cast("string")) % 10 < 9
    )
    routed_old = router_ops.route_media(
        router_ops.synthesize_mixed_corpus(spark, n=54)
    )
    routed_new = router_ops.route_media(
        router_ops.synthesize_mixed_corpus(spark, n=72)
    )
    return training_ops.multimodal_manifest_diff(
        old_docs, routed_old, docs, routed_new
    )


def _q_crawl_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiered crawl-dedup FUNNEL as one gated row: captures →
    URL-canonical dedup → content-fingerprint dedup → quality gate,
    with exact e4 drop rates per tier (plans/crawl.py).  The oracle
    re-derives all four counts and every rate in SQL."""
    return crawl_plans.crawl_dedup_report(_docs(spark, sf_dir))


def _q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source + sink under the oracle gate (the bronze CSV
    discipline applied to the training-data interchange format):
    documents written as JSONL shards partitioned by source
    (writers.write_jsonl_shards), read back with an explicit schema
    (readers.read_jsonl — no inference pass), reduced to the per-doc
    text surface.  Any character the RFC 8259 escape/unescape path
    corrupts — quotes, control chars, unicode — flips the hash
    against plain SQL over the original parquet; the source partition
    column round-trips through the directory layout.  r11: the same
    corpus round-trips through BOTH codecs — plain .json and
    whole-member gzip .json.gz shards (the format trainers consume) —
    and the union is hashed, so a corruption in either codec path
    flips the gate."""
    import tempfile

    from pyspark.sql import types as T

    base = tempfile.mkdtemp(prefix="jsonl_gate_")
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    legs = []
    for codec in ("plain", "gzip"):
        writers.write_jsonl_shards(
            docs,
            base,
            f"docs_{codec}",
            shard_cols=["source"],
            codec=None if codec == "plain" else codec,
        )
        back = readers.read_jsonl(spark, f"{base}/docs_{codec}", schema)
        legs.append(back.withColumn("codec", F.lit(codec)))
    both = legs[0].unionByName(legs[1])
    return both.select(
        "codec",
        "doc_id",
        "source",
        "text",
        F.length("text").cast("long").alias("n_chars"),
    ).orderBy("codec", "doc_id")


def _q_crawl_to_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED crawl front door (plans/crawl.py): real WARC bytes
    (HTML bodies under three messy capture URIs per resource) →
    shuffle-free ingest → URL-canonical keep-first dedup → HTML
    main-text extraction → fingerprint dedup + quality gate +
    leakage-free split + first-fit pack — one lazy plan, one value
    hash over SIX composed stages.  The oracle re-derives every stage
    in DuckDB SQL."""
    return crawl_plans.crawl_to_training_set(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_crawl_admitted_training_set(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """crawl_to_training_set with RFC 9309 admission fused in front
    (r11): real robots.txt bytes parsed by the DISTRIBUTED parser,
    every capture decided on its raw URI's host + path?query, THEN
    URL dedup → HTML extraction → curate/split/pack — SEVEN composed
    stages, one lazy plan, one value hash.  The oracle re-derives the
    admission through the local reference parser + the general match/
    precedence SQL, then the unchanged crawl chain."""
    return crawl_plans.crawl_admitted_training_set(
        _docs(spark, sf_dir)
    ).orderBy("doc_id")


def _q_media_type_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE ingest surface over the whole codec tier
    (operators/router.py): a 76-item corpus mixing all ten payload
    classes (raw image/audio/video, PNG, baseline + progressive JPEG,
    GIF, WAV, AVI/MJPEG, unknown bytes) routed by magic sniff, FULLY
    decoded per type, and folded into a per-type census with an
    order-independent checksum sum.  Oracle: locally-recomputed VALUES
    literal — the distributed routing + decode must reproduce the
    local census bit-for-bit."""
    media = router_ops.synthesize_mixed_corpus(spark, n=72)
    return router_ops.media_type_census(media)


def _q_wet_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET round-trip (r12 — Common Crawl's extracted-text derivative:
    WARC/1.0 conversion records whose body IS the text, the format
    text pipelines actually consume): documents packed per source
    into gzip-membered WET archives, ingested back by the conversion
    walk.  Oracle: plain SQL over documents."""
    return warc_ops.wet_roundtrip_stats(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_warc_revisit_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit records (r12 — ISO 28500 §6.7.2, the
    identical-payload-digest dedup Common Crawl emits for unchanged
    recrawls): the pack writes doc_id % 4 == 1 captures after each
    source's first response as REVISIT records referring to the last
    response URI; ingest surfaces them; resolution is one equi-join
    on the referred URI.  Oracle: the revisit construction re-derived
    as a last-response-before-me window over documents."""
    return warc_ops.warc_revisit_roundtrip(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_cdx_index_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX URL index (r12 — the crawl tier's lookup artifact, the
    public Common Crawl index semantics): documents packed as varied
    captures (404/301 statuses, text/html media types, per-record
    capture times, gzip/deflate/chunked/iso-8859-1 body legs), then
    the index cut in one shuffle-free walk — SURT urlkey, 14-digit
    timestamp, decoded-payload sha256.  Oracle re-derives every field
    in SQL from documents (operators/cdx.py); offset/length are
    unit-gated (slice must re-parse)."""
    return cdx_ops.cdx_fixture_index(_docs(spark, sf_dir)).orderBy(
        "urlkey", "cdx_ts", "url"
    )


def _q_cdx_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDX index CONSUMED relationally (r12): per reversed-host
    key — captures, distinct URL keys, 200-count, latest capture —
    the recrawl-scheduler read that never touches an archive byte."""
    return cdx_ops.cdx_host_stats(
        cdx_ops.cdx_fixture_index(_docs(spark, sf_dir))
    )


def _q_page_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT-style outlink extraction (r12 — the crawl graph's raw
    material): documents wrapped in a page template whose anchors
    cover every RFC 3986 resolution branch (absolute, root-relative,
    ../ path-relative, protocol-relative, fragment self-link, plus
    mailto/javascript chaff that must drop), parsed and resolved by
    the distributed stdlib walk (operators/links.py).  Oracle
    re-derives extraction + resolution from the construction rules."""
    return links_ops.fixture_links(_docs(spark, sf_dir)).orderBy(
        "doc_id", "href"
    )


def _q_host_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The host-level link graph (r12): one exact groupBy over the
    resolved edge list — the input centrality / spam-cluster jobs
    read.  Hosts via the shared url_host normalization."""
    return links_ops.host_link_graph(
        links_ops.fixture_links(_docs(spark, sf_dir))
    )


def _q_crawl_frontier_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier expansion (r12): outlink destinations anti-joined
    against the captured URL set, aggregated per destination host
    with in-degree — the next crawl round's seed list, produced
    without fetching anything."""
    docs = _docs(spark, sf_dir)
    return links_ops.crawl_frontier(
        links_ops.fixture_links(docs),
        docs.select(links_ops.capture_base_url().alias("url")),
    )


def _q_host_authority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host authority (r12): directed, WEIGHTED, dangling-aware
    fixed-point PageRank over the host link graph — the fetch-first
    signal a crawl scheduler ranks its frontier by.  Dangling hubs'
    mass redistributes uniformly each step via a 1-row scalar
    crossJoin (bounded).  Oracle: the iteration unrolled into CTEs,
    term-for-term integer arithmetic (operators/links.py)."""
    return links_ops.host_authority(
        links_ops.host_link_graph(
            links_ops.fixture_links(_docs(spark, sf_dir))
        )
    )


def _q_cdx_store_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX store + pruned lookup (r12 — the layout leg of the index
    story): the fixture index materialized hive-partitioned by host
    bucket and urlkey-sorted within files, then three hosts looked up
    through partition pruning + a pushed StringStartsWith prefix scan
    (plan-asserted in tests/test_cdx.py).  At 100 TB this is the
    difference between a lookup and a scan.  Oracle: the index SQL
    restricted to the looked-up hosts — the pruned path must return
    exactly what a full recompute would."""
    import tempfile

    path = tempfile.mkdtemp(prefix="cdx_store_gate_")
    idx = cdx_ops.cdx_fixture_index(_docs(spark, sf_dir))
    cdx_ops.write_cdx_store(idx, path)
    hosts = ("src3.example.com", "src7.example.com", "src11.example.com")
    out = None
    for h in hosts:
        df = cdx_ops.cdx_store_lookup(spark, path, h)
        out = df if out is None else out.unionByName(df)
    return out.orderBy("urlkey", "cdx_ts", "url")


def _q_crawl_delta_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl delta (r12 — the reason archive indexes
    exist): two synthetic crawl snapshots packed through the real
    WARC pipeline and CDX-indexed, then diffed index-to-index on
    (urlkey, digest) into per-host unchanged/changed/new/gone counts
    — the monthly-crawl dedup read that never touches archive bytes.
    Oracle re-derives both snapshots and the classification in SQL."""
    return cdx_ops.crawl_delta_fixture(_docs(spark, sf_dir))


def _q_tar_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed tar round-trip under a REAL SQL oracle: documents
    packed per source into deterministic tar archives whose codec
    cycles gz/bz2/xz by a last-byte rule the SQL twin re-derives
    (operators/archive.py) — so the oracle hashes the codec ROUTING as
    well as the text.  zstd and non-file members fail loudly."""
    return archive_ops.tar_roundtrip_stats(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_zip_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP round-trip under a REAL SQL oracle (r12 — VERDICT r11 #4):
    documents packed per source into deterministic ZIP archives whose
    member method cycles STORED/DEFLATED on doc_id % 2
    (operators/archive.py make_zip/zip_ingest) — the oracle re-derives
    the method column, so member-method routing is value-hashed with
    the text.  Encrypted members and exotic methods fail loudly."""
    return archive_ops.zip_roundtrip_stats(_docs(spark, sf_dir)).orderBy(
        "doc_id"
    )


def _q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (dHash, banded like SimHash): REAL
    decode of a mixed raw-MM02/PNG corpus with planted cross-format
    duplicates, then pure relational banding + bit_count verify.
    Hybrid oracle (the BPE pattern): signatures as a locally-
    recomputed VALUES literal, pairing semantics as real SQL."""
    media = ih_ops.synthesize_image_corpus(spark, n=48)
    return ih_ops.image_near_dup(media).orderBy("id_a", "id_b")


def _q_stored_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup: the corpus side persisted ONCE as
    bucketed catalog tables (bands/shingles/sizes/stop), the src1
    batch scored against the store with no corpus-side Exchange
    (plan-asserted in tests/test_dedupstore.py).  The oracle
    recomputes the store inline from the documents table — store
    contents are a pure function of the old rows."""
    docs = _docs(spark, sf_dir)
    store_ops.write_fingerprint_store(
        docs.filter("NOT (source = 'src1')"), "fp_store_gate"
    )
    out = store_ops.stored_near_dups(
        spark, docs.filter("source = 'src1'"), "fp_store_gate"
    )
    return attach_cached_deps(
        out.orderBy("new_doc_id", "old_doc_id"), *carried_deps(out)
    )


def _q_store_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL ingest loop: found the store, score batch 1 (src1),
    APPEND it (bucketed-append — batch-sized shuffle only), then
    score batch 2 (src2) — whose matches must now include src1 docs.
    Stop-shingles stay the founding corpus's (append never recomputes
    them), so every batch's scores are time-invariant.  The oracle
    replays the same two-batch sequence inline."""
    docs = _docs(spark, sf_dir)
    store_ops.write_fingerprint_store(
        docs.filter("source NOT IN ('src1', 'src2')"), "fp_loop_gate"
    )
    b1 = docs.filter("source = 'src1'")
    scored1 = store_ops.stored_near_dups(spark, b1, "fp_loop_gate")
    scored1.count()  # the loop scores THEN appends
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import release_cached

    release_cached(scored1)
    store_ops.append_to_fingerprint_store(b1, "fp_loop_gate")
    out = store_ops.stored_near_dups(
        spark, docs.filter("source = 'src2'"), "fp_loop_gate"
    )
    return attach_cached_deps(
        out.orderBy("new_doc_id", "old_doc_id"), *carried_deps(out)
    )


def _q_store_compacted_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loop PLUS its maintenance job: found → append src1 →
    COMPACT (stop set recomputed over founding ∪ src1, sizes
    rewritten) → score src2.  Distinguished from store_ingest_loop by
    exactly the compaction semantics: the oracle's stop CTE ranges
    over founding ∪ batch1 instead of founding alone."""
    docs = _docs(spark, sf_dir)
    store_ops.write_fingerprint_store(
        docs.filter("source NOT IN ('src1', 'src2')"), "fp_compact_gate"
    )
    store_ops.append_to_fingerprint_store(
        docs.filter("source = 'src1'"), "fp_compact_gate"
    )
    store_ops.compact_fingerprint_store(spark, "fp_compact_gate")
    out = store_ops.stored_near_dups(
        spark, docs.filter("source = 'src2'"), "fp_compact_gate"
    )
    return attach_cached_deps(
        out.orderBy("new_doc_id", "old_doc_id"), *carried_deps(out)
    )


def _q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer induction (Kudo 2018, hard-EM variant,
    r8 verdict #5): the pruned piece vocabulary with final Viterbi
    counts and fixed-point costs.  Oracle = pure-Python twin VALUES
    (the bpe_merges pattern)."""
    return unigram_ops.unigram_vocab(_docs(spark, sf_dir))


def _q_unigram_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoded under the learned unigram model — Viterbi
    segmentation joined back to the position-indexed stream (the
    bpe_encode_docs plan shape).  token_ids CSV-projected for the
    scalar-only gate canonicalizer."""
    out = unigram_ops.unigram_encode_docs(_docs(spark, sf_dir))
    deps = carried_deps(out)
    return attach_cached_deps(
        out.withColumn("token_ids", _csv_array("token_ids")), *deps
    )


def _q_unigram_encode_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once/encode-forever unigram tokenizer: the piece model
    (scores + word dictionary + vocab ids) persisted to parquet, the
    corpus encoded against the PERSISTED tables with zero EM rounds.
    On the training corpus this reproduces unigram_encode_docs
    bit-for-bit, so the oracle is the same twin."""
    import tempfile

    path = tempfile.mkdtemp(prefix="unigram_model_gate_")
    docs = _docs(spark, sf_dir)
    unigram_ops.write_unigram_model(docs, path)
    out = unigram_ops.encode_with_unigram_model(docs, path)
    return out.withColumn("token_ids", _csv_array("token_ids"))


def _q_quality_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier, fit step (r8 verdict #6): diagonal
    LDA over four integer text features, teacher labels from the gated
    quality heuristic, every division exact truncating DECIMAL(38,0).
    Oracle is PURE SQL — DuckDB re-derives the whole fit."""
    return clf_ops.quality_model_fit(_docs(spark, sf_dir))


def _q_quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring under the fitted model: exact integer margins +
    predictions + per-doc correctness (holdout accuracy pinned in
    tests/test_classifier.py)."""
    return clf_ops.quality_model_scores(_docs(spark, sf_dir))


def _q_bronze_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S4 under the oracle gate (r8 verdict #4): orders written to a
    header CSV via write_bronze_csv (reference extract.py:64-69), read
    back via read_bronze_csv with schema INFERENCE (transform.py:25),
    then reduced to a canonical per-status summary.  The oracle
    computes the identical summary on the ORIGINAL parquet, so any
    value the CSV encode/infer/parse path corrupts (quoting, date
    rendering, double round-trip) flips the hash.  Spark renders
    doubles as their shortest round-trip repr, so re-parsing is exact;
    dates are written ISO and re-inferred as DATE (Spark 4 CSV
    inference prefersDate)."""
    import tempfile

    base = tempfile.mkdtemp(prefix="bronze_gate_")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_orderdate"),
        "o_orderpriority",
    )
    writers.write_bronze_csv(orders, base, "orders")
    try:
        back = readers.read_bronze_csv(spark, f"{base}/orders")
        if not back.columns:
            raise ValueError("no columns inferred")
    except Exception:
        # empty bronze extract (zero part files): inference has nothing
        # to read — degrade to the typed empty frame, like a silver
        # backfill over an empty day
        back = spark.createDataFrame([], orders.schema)
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.col("o_orderkey").cast("long")).alias("min_key"),
            F.max(F.col("o_orderkey").cast("long")).alias("max_key"),
            F.sum(cents("o_totalprice").cast("decimal(38,0)"))
            .cast("long")
            .alias("total_cents"),
            F.min(F.col("o_orderdate").cast("string")).alias("min_date"),
            F.max(F.col("o_orderdate").cast("string")).alias("max_date"),
        )
        .orderBy("status")
    )


def _q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once/query-forever ANN: IVF-PQ index persisted to parquet
    (codes partitioned by coarse cell), then the ADC top-k planned
    against the PERSISTED tables — zero Lloyd rounds at query time
    (plan-asserted in tests/test_annindex.py).  write+query reproduces
    ivf_pq_topk bit-for-bit, so the oracle IS the ivf_pq_topk twin."""
    import tempfile

    path = tempfile.mkdtemp(prefix="annidx_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    q = annindex_ops.corpus_queries(emb)
    out = annindex_ops.ann_query(spark, path, q)
    return attach_cached_deps(
        out.orderBy("query_id", "rank"), *carried_deps(out)
    )


ANN_APPEND_SHIFT = 1 << 40


def _q_ann_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index freshness without retraining (FAISS `add`): found the
    index on the corpus, APPEND the same vectors under shifted ids
    (assigned against the PERSISTED codebooks/centroids — no Lloyd
    rounds), query.  Every query's top-k now interleaves original and
    twin at identical ADC distances (original id wins the tie-break).
    Oracle: the ivf_pq_topk twin over the DOUBLED corpus — exact
    duplication preserves every centroid/codebook mean bit-for-bit
    (sums and counts both double; the scaled-integer quotient is
    unchanged), so training-on-founding == training-on-doubled and
    one oracle covers the append semantics."""
    import tempfile

    path = tempfile.mkdtemp(prefix="annapp_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    shifted = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(ANN_APPEND_SHIFT)
    )
    annindex_ops.append_to_ann_index(shifted, path)
    out = annindex_ops.ann_query(
        spark, path, annindex_ops.corpus_queries(emb)
    )
    return attach_cached_deps(
        out.orderBy("query_id", "rank"), *carried_deps(out)
    )


def _q_ann_index_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance (r8 verdict #1): the daily append loop leaves
    one parquet fragment per cell per batch; ``compact_ann_index``
    rewrites each cell to ONE sorted file (write-to-temp + atomic FS
    swap).  Content-preserving by construction, so the post-compaction
    query answers the SAME doubled-corpus oracle as the append gate —
    a hash mismatch here means compaction lost or duplicated codes."""
    import tempfile

    path = tempfile.mkdtemp(prefix="anncmp_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    shifted = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(ANN_APPEND_SHIFT)
    )
    annindex_ops.append_to_ann_index(shifted, path)
    manifest = annindex_ops.compact_ann_index(spark, path)
    assert manifest["files_after"] <= manifest["files_before"], manifest
    out = annindex_ops.ann_query(
        spark, path, annindex_ops.corpus_queries(emb)
    )
    return attach_cached_deps(
        out.orderBy("query_id", "rank"), *carried_deps(out)
    )


ANN_DELETE_MOD = 7
ANN_DELETE_RESIDUE = 3


def _deleted_ids(emb, shifted):
    all_ids = emb.select("vec_id").unionByName(shifted.select("vec_id"))
    return all_ids.filter(
        F.col("vec_id") % ANN_DELETE_MOD == ANN_DELETE_RESIDUE
    )


def _q_ann_index_deleted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index deletes without retraining (r11 — FAISS `remove_ids`):
    found + append the shifted twins, then TOMBSTONE every id ≡3
    (mod 7) across both populations; the serve path anti-joins the
    tombstones so deleted vectors never surface as neighbors while
    centroids/codebooks/cells stay frozen.  Oracle: the doubled-corpus
    ivf_pq_topk twin with the same residue excluded from the CANDIDATE
    set only — training still sees every vector, exactly the
    tombstone semantics."""
    import tempfile

    path = tempfile.mkdtemp(prefix="anndel_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    shifted = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(ANN_APPEND_SHIFT)
    )
    annindex_ops.append_to_ann_index(shifted, path)
    annindex_ops.delete_from_ann_index(_deleted_ids(emb, shifted), path)
    out = annindex_ops.ann_query(
        spark, path, annindex_ops.corpus_queries(emb)
    )
    return attach_cached_deps(
        out.orderBy("query_id", "rank"), *carried_deps(out)
    )


def _q_ann_index_delete_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Compaction FOLDS the tombstones (r11): after the delete gate's
    setup, compact_ann_index physically drops the tombstoned codes,
    clears the tombstone table, and the post-compaction query must
    answer the SAME deleted-corpus oracle — a hash mismatch means the
    fold lost, kept, or duplicated the wrong vectors."""
    import tempfile

    path = tempfile.mkdtemp(prefix="anndelc_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    shifted = emb.withColumn(
        "vec_id", F.col("vec_id") + F.lit(ANN_APPEND_SHIFT)
    )
    annindex_ops.append_to_ann_index(shifted, path)
    n_del = annindex_ops.delete_from_ann_index(
        _deleted_ids(emb, shifted), path
    )
    manifest = annindex_ops.compact_ann_index(spark, path)
    assert manifest["deletes_folded"] == n_del, manifest
    assert annindex_ops._read_tombstones(spark, path) is None, (
        "tombstones must clear after the fold"
    )
    out = annindex_ops.ann_query(
        spark, path, annindex_ops.corpus_queries(emb)
    )
    return attach_cached_deps(
        out.orderBy("query_id", "rank"), *carried_deps(out)
    )


def _q_ann_index_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured WHEN-to-rebuild trigger (r8 verdict #1): found the
    index, append a distribution-shifted batch (coords +0.5, ids out
    of range), then score the FROZEN index against a fresh retrain on
    the current corpus — per calibration query, recall@25 of each
    against the exact subspace-integer-grid top-25.  The drifted
    fixture drops stale recall measurably below fresh (sf0.01: every
    query's recall_drop_e6 >= 80000), which is the signal a production
    loop thresholds to schedule ``compact_ann_index`` + retrain."""
    import tempfile

    path = tempfile.mkdtemp(prefix="annstale_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    batch = annindex_ops.drifted_batch(emb)
    annindex_ops.append_to_ann_index(batch, path)
    current = emb.select("vec_id", "embedding", "label").unionByName(batch)
    queries = batch.filter(
        F.col("vec_id") < annindex_ops.DRIFT_SHIFT + annindex_ops.N_QUERIES
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    # ordering + cached-deps tag are applied inside ann_index_staleness
    return annindex_ops.ann_index_staleness(
        spark, path, current, queries, k=annindex_ops.STALE_K
    )


def _q_ann_index_rebuilt_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE maintenance loop in one gate: found -> append a
    drifted batch -> maintain_ann_index (measures staleness, crosses
    the rebuild threshold — deterministic with this fixture at every
    tested scale — retrains on the current corpus, compacts) -> query.
    The maintained index must equal a fresh retrain bit-for-bit, so
    the oracle is the ivf_pq twin over the drift union with the batch
    calibration queries."""
    import tempfile

    path = tempfile.mkdtemp(prefix="annrebuild_gate_")
    emb = _emb(spark, sf_dir)
    annindex_ops.write_ann_index(emb, path)
    batch = annindex_ops.drifted_batch(emb)
    annindex_ops.append_to_ann_index(batch, path)
    current = emb.select("vec_id", "embedding", "label").unionByName(batch)
    queries = batch.filter(
        F.col("vec_id") < annindex_ops.DRIFT_SHIFT + annindex_ops.N_QUERIES
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    # On the gate fixtures the drifted batch always trips the rebuild
    # (measured at all six scales, pinned in tests); if a corpus ever
    # didn't, the frozen-index answers would hash-mismatch the
    # fresh-retrain oracle LOUDLY — no assert needed (degenerate
    # corpora, e.g. the NULL-row sweep's, may legitimately skip).
    annindex_ops.maintain_ann_index(spark, path, current, queries)
    out = annindex_ops.ann_query(spark, path, queries)
    return attach_cached_deps(
        out.orderBy("query_id", "rank"), *carried_deps(out)
    )


def _q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary fixtures don't exist; the media table is synthesized
    # deterministically, and every output column is an integer/string
    # computed from the payload bytes — the oracle is a locally
    # recomputed VALUES literal (same pattern as resize_raw_images).
    return mm_ops.media_pipeline(spark, n=60)


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q_daily_sales_summary(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Query registry: queries() returns this one ordered literal, the only
# list of query names (bench.py and the test sweeps derive theirs from it).
#
# The driver's correctness gate reports only the FIRST 50 entries, so the
# order is load-bearing; a comment marks where that window ends and
# tests/test_pipeline.py pins the names on either side of it, so an
# insertion above the boundary fails loudly.  tools/check_oracle.py
# always runs ALL entries regardless.
#
# Rotation policy: entries lead when (a) they have never been
# driver-verified, (b) their implementing module changed, or (c) they
# are reference-parity core.  The tail is ordered stalest-first by
# driver-evidence age, so the next window is its head plus whatever
# changes.
# ---------------------------------------------------------------------------
def queries() -> dict[str, QueryFn]:
    return {
        "cdx_index_records": _q_cdx_index_records,
        "cdx_host_stats": _q_cdx_host_stats,
        "page_outlinks": _q_page_outlinks,
        "host_link_graph": _q_host_link_graph,
        "crawl_frontier_hosts": _q_crawl_frontier_hosts,
        "host_authority_rank": _q_host_authority_rank,
        "polite_fetch_plan": _q_polite_fetch_plan,
        "crawl_delta_report": _q_crawl_delta_report,
        "cdx_store_lookup": _q_cdx_store_lookup,
        "bmp_features": _q_bmp_features,
        "media_type_census": _q_media_type_census,
        "multimodal_training_set": _q_multimodal_training_set,
        "multimodal_manifest": _q_multimodal_manifest,
        "multimodal_manifest_diff": _q_multimodal_manifest_diff,
        "zip_ingest_docs": _q_zip_ingest_docs,
        "robots_declared_sitemaps": _q_robots_declared_sitemaps,
        "crawl_coverage_discovered": _q_crawl_coverage_discovered,
        "sitemap_index_expanded": _q_sitemap_index_expanded,
        "sitemap_recrawl_candidates": _q_sitemap_recrawl_candidates,
        "robots_rules_parsed": _q_robots_rules_parsed,
        "robots_filter_captures": _q_robots_filter_captures,
        "sitemap_urls_parsed": _q_sitemap_urls_parsed,
        "crawl_coverage_report": _q_crawl_coverage_report,
        "warc_ingest_docs": _q_warc_ingest_docs,
        "crawl_admitted_training_set": _q_crawl_admitted_training_set,
        "crawl_to_training_set": _q_crawl_to_training_set,
        "url_canonical_dedup": _q_url_canonical_dedup,
        "ann_index_deleted_topk": _q_ann_index_deleted_topk,
        "ann_index_delete_compacted": _q_ann_index_delete_compacted,
        "warc_revisit_resolved": _q_warc_revisit_resolved,
        "wet_ingest_docs": _q_wet_ingest_docs,
        "segment_year_cube": relational.segment_year_cube,
        "top_revenue_supplier": relational.top_revenue_supplier,
        "discount_band_revenue": relational.discount_band_revenue,
        "returned_item_customers": relational.returned_item_customers,
        "supplier_revenue_share": relational.supplier_revenue_share,
        "above_avg_dormant_value": relational.above_avg_dormant_value,
        "brand_basket_revenue": relational.brand_basket_revenue,
        "nation_market_share": relational.nation_market_share,
        "daily_revenue_delta": relational.daily_revenue_delta,
        "nation_trade_volume": relational.nation_trade_volume,
        "customer_order_gaps": relational.customer_order_gaps,
        "daily_revenue_running": _analytics_query("daily_revenue_running"),
        "segment_sales_rollup": _analytics_query("segment_sales_rollup"),
        "pricing_summary": _q_pricing_summary,
        "shipping_priority": _q_shipping_priority,
        "local_supplier_volume": _q_local_supplier_volume,
        "promo_revenue": _q_promo_revenue,
        "windowed_event_stats": _q_windowed_event_stats,
        "sessionize_events": _q_sessionize,
        # ---- end of the driver gate's 50-entry window ----
        "label_centroids": _q_label_centroids,
        "standardize_embeddings": _q_standardize_embeddings,
        "dedup_keep_best": _q_dedup_keep_best,
        "source_overlap": _q_source_overlap,
        "audio_features_raw": _q_audio_features_raw,
        "video_frame_luma": _q_video_frame_luma,
        "scd2_stream_replay": _q_scd2_stream_replay,
        "hll_stream_estimates": _q_hll_stream_estimates,
        "churned_buyers": relational.churned_buyers,
        "concurrent_sessions": _q_concurrent_sessions,
        "dedup_exact": _q_dedup_exact,
        "doc_chunks": _q_doc_chunks,
        "hash_sample_events": _q_hash_sample_events,
        "late_shipment_priority": relational.late_shipment_priority,
        "pack_bins": _q_pack_bins,
        "pack_sequences": _q_pack_sequences,
        "quality_filter_docs": _q_quality_filter_docs,
        "quantize_embeddings": lambda spark, sf_dir: (
            quant_ops.quantize_embeddings(_emb(spark, sf_dir))
        ),
        "stratified_sample_docs": _q_stratified_sample_docs,
        "dsir_importance": _q_dsir_importance,
        "dsir_select": _q_dsir_select,
        "mixing_plan": _q_mixing_plan,
        "source_entropy": _q_source_entropy,
        "dsir_stream_importance": _q_dsir_stream_importance,
        "bpe_merges": _q_bpe_merges,
        "bpe_doc_tokens": _q_bpe_doc_tokens,
        "pq_codebooks": _q_pq_codebooks,
        "pq_topk": _q_pq_topk,
        "ivf_pq_topk": _q_ivf_pq_topk,
        "dup_spans": _q_dup_spans,
        "strip_dup_spans": _q_strip_dup_spans,
        "mixing_sample": _q_mixing_sample,
        "order_value_quantiles": relational.order_value_quantiles,
        "pq_recall": _q_pq_recall,
        "data_card": _q_data_card,
        "cms_stream_heavy_hitters": _q_cms_stream_heavy_hitters,
        "curriculum_mix": _q_curriculum_mix,
        "bpe_encode_docs": _q_bpe_encode_docs,
        "pq_codes": _q_pq_codes,
        "near_dup_recall": _q_near_dup_recall,
        "event_key_skew": _q_event_key_skew,
        "zorder_layout": _q_zorder_layout,
        "length_model_fit": _q_length_model_fit,
        "length_model_outliers": _q_length_model_outliers,
        "stored_near_dups": _q_stored_near_dups,
        "store_ingest_loop": _q_store_ingest_loop,
        "store_compacted_dedup": _q_store_compacted_dedup,
        "ann_index_topk": _q_ann_index_topk,
        "ann_index_append_topk": _q_ann_index_append_topk,
        "bpe_encode_persisted": _q_bpe_encode_persisted,
        "pq_sdc_near_dup": _q_pq_sdc_near_dup,
        "length_drift_chisq": _q_length_drift_chisq,
        "source_token_kl": _q_source_token_kl,
        "snapshot_value_psi": _q_snapshot_value_psi,
        "psi_stream_drift": _q_psi_stream_drift,
        "chisq_stream_drift": _q_chisq_stream_drift,
        "kl_stream_drift": _q_kl_stream_drift,
        "training_manifest": _q_training_manifest,
        "manifest_diff": _q_manifest_diff,
        "salted_segment_order_stats": _q_salted_segment_order_stats,
        "bucketed_segment_order_stats": _q_bucketed_segment_order_stats,
        "ivf_pq_residual_topk": _q_ivf_pq_residual_topk,
        "cosine_topk": _q_cosine_topk,
        "ivf_topk": _q_ivf_topk,
        "lsh_candidate_pairs": _q_lsh_candidate_pairs,
        "minhash_signatures": _q_minhash_signatures,
        "blocked_jaccard_pairs": _q_blocked_jaccard,
        "cosine_topk_gemm": _q_cosine_topk_gemm,
        "embedding_near_dup_gemm": _q_embedding_near_dup_gemm,
        "dq_summary_customer": _q_dq_summary_customer,
        "language_id": _q_language_id,
        "pii_redact_docs": _q_pii_redact_docs,
        "repetition_signals": _q_repetition_signals,
        "session_window_stats": _q_session_window_stats,
        "silver_clean_events": _q_silver_clean_events,
        "union_all_orders": _q_union_all_orders,
        "embedding_near_dup": _q_embedding_near_dup,
        "gold_store_top_customers": _q_gold_store_top_customers,
        "gold_store_products": _q_gold_store_products,
        "mjpeg_frame_luma": _q_mjpeg_frame_luma,
        "tar_ingest_docs": _q_tar_ingest_docs,
        "video_near_dup": _q_video_near_dup,
        "html_extract_docs": _q_html_extract_docs,
        "ann_index_compacted_topk": _q_ann_index_compacted_topk,
        "ann_index_staleness": _q_ann_index_staleness,
        "ann_index_rebuilt_topk": _q_ann_index_rebuilt_topk,
        "bronze_roundtrip": _q_bronze_roundtrip,
        "unigram_vocab": _q_unigram_vocab,
        "unigram_encode_docs": _q_unigram_encode_docs,
        "unigram_encode_persisted": _q_unigram_encode_persisted,
        "scd2_customers": _q_scd2_customers,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "decontaminate_docs": _q_decontaminate_docs,
        "asof_join_events": _q_asof_join,
        "simhash_near_dup": _q_simhash_near_dup,
        "near_dup_pairs": _q_near_dup_pairs,
        "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
        "simhash_signatures": _q_simhash,
        "text_features": _q_text_features,
        "topk_events_per_type": _q_topk_events,
        "user_event_pivot": _q_user_event_pivot,
        "user_event_unpivot": _q_user_event_unpivot,
        "extract_props": _q_extract_props,
        "category_reach": _q_category_reach,
        "repeat_buyers_intersect": _q_repeat_buyers_intersect,
        "corpus_shuffle": _q_corpus_shuffle,
        "source_cap_docs": _q_source_cap_docs,
        "gold_store_retained": _q_gold_store_retained,
        "crawl_dedup_report": _q_crawl_dedup_report,
        "quality_model_scores": _q_quality_model_scores,
        "quality_model_fit": _q_quality_model_fit,
        "resize_raw_images": _q_resize_raw_images,
        "image_near_dup": _q_image_near_dup,
        "multimodal_pipeline": _q_multimodal_pipeline,
        "gold_store_daily": _q_gold_store_daily,
        "gold_store_compacted": _q_gold_store_compacted,
        "gold_stream_daily": _q_gold_stream_daily,
        "event_value_quantiles": _q_event_value_quantiles,
        "anomalous_revenue_days": relational.anomalous_revenue_days,
        "bloom_decontaminate": _q_bloom_decontaminate,
        "cheapest_part_supplier": relational.cheapest_part_supplier,
        "cms_heavy_hitters": _q_cms_heavy_hitters,
        "containment_pairs": _q_containment_pairs,
        "corpus_stats": _q_corpus_stats,
        "curated_docs": _q_curated_docs,
        "customer_order_distribution": relational.customer_order_distribution,
        "daily_revenue_ma7": _analytics_query("daily_revenue_ma7"),
        "dataset_split_docs": _q_dataset_split_docs,
        "dedup_corpus": _q_dedup_corpus,
        "dedup_rate_report": _q_dedup_rate_report,
        "dup_span_stats": _q_dup_span_stats,
        "funnel_conversion": _q_funnel_conversion,
        "hll_distinct_users": _q_hll_distinct_users,
        "fuzzy_part_names": _q_fuzzy_part_names,
        "fuzzy_decontaminate": _q_fuzzy_decontaminate,
        "customer_value_tiles": relational.customer_value_tiles,
        "brand_corr_stats": relational.brand_corr_stats,
        "encode_token_ids": _q_encode_token_ids,
        "big_orders": relational.big_orders,
        "bigram_vocab": lambda spark, sf_dir: vocab_ops.ngram_vocab(
            _docs(spark, sf_dir), n=2
        ),
        "daily_sales_summary": _q_daily_sales_summary,
        "top_customers": _q_top_customers,
        "product_performance": _q_product_performance,
        "store_performance": _q_store_performance,
        "daily_revenue": _analytics_query("daily_revenue"),
        "top_performing_customers": _analytics_query("top_performing_customers"),
        "product_analysis": _analytics_query("product_analysis"),
        "revenue_by_category": _analytics_query("revenue_by_category"),
        "png_features": _q_png_features,
        "gif_frame_luma": _q_gif_frame_luma,
        "jpeg_features": _q_jpeg_features,
        "compression_signals": _q_compression_signals,
        "wav_features": _q_wav_features,
        "wav_band_energy": _q_wav_band_energy,
        "audio_near_dup": _q_audio_near_dup,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "part_supplier_breadth": relational.part_supplier_breadth,
        "promo_part_suppliers": relational.promo_part_suppliers,
        "incremental_near_dups": _q_incremental_near_dups,
        "weekly_retention": _q_weekly_retention,
        "snapshot_diff_customers": _q_snapshot_diff,
        "value_histogram": _q_value_histogram,
        "lone_late_supplier": relational.lone_late_supplier,
        "linestatus_priority_mix": relational.linestatus_priority_mix,
        "kmeans_refine": _q_kmeans_refine,
        "kmeans_two_round": _q_kmeans_two_round,
        "normalize_text": _q_normalize_text,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_shared_pairs": _q_winnow_shared_pairs,
        "knn_graph": _q_knn_graph,
        "semantic_dedup": _q_semantic_dedup,
        "pagerank_near_dups": _q_pagerank_near_dups,
        "profile_customers": _q_profile_customers,
        "rp_lsh_signatures": _q_rp_lsh,
        "near_dup_clusters": _q_near_dup_clusters,
        "event_transitions": _q_event_transitions,
        "build_training_set": _q_build_training_set,
        "basket_rules": _q_basket_rules,
        "dup_triangles": _q_dup_triangles,
        "rolling_distinct_users": _q_rolling_distinct_users,
        "bigram_prob_score": _q_bigram_prob_score,
        "ngram_novelty": _q_ngram_novelty,
        "cluster_size_histogram": _q_cluster_size_histogram,
        "embedding_outliers": _q_embedding_outliers,
        "nation_year_profit": relational.nation_year_profit,
        "dormant_customers": relational.dormant_customers,
        "small_quantity_revenue": relational.small_quantity_revenue,
    }


def oracle_sql() -> dict[str, str]:
    w = retail_views.with_retail_ctes
    g = analytics.GOLD_CTES
    oracles = {
        "daily_sales_summary": w(
            "SELECT * FROM daily_sales_summary", extra_ctes=g
        ),
        "top_customers": w("SELECT * FROM top_customers", extra_ctes=g),
        "product_performance": w(
            "SELECT * FROM product_performance", extra_ctes=g
        ),
        "store_performance": w(
            "SELECT * FROM store_performance", extra_ctes=g
        ),
        # the incremental gold stores must equal a FULL recompute —
        # their oracles are exactly the from-scratch gold SQL
        "gold_store_daily": w(
            "SELECT * FROM daily_sales_summary", extra_ctes=g
        ),
        "gold_store_compacted": w(
            "SELECT * FROM daily_sales_summary", extra_ctes=g
        ),
        "gold_store_top_customers": w(
            "SELECT * FROM top_customers", extra_ctes=g
        ),
        "gold_store_retained": w(
            "SELECT * FROM daily_sales_summary", extra_ctes=g
        ),
        "gold_stream_daily": w(
            "SELECT * FROM daily_sales_summary", extra_ctes=g
        ),
        "gold_store_products": w(
            "SELECT * FROM product_performance", extra_ctes=g
        ),
        "pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   {sql_dround('SUM(l_quantity)', 2)}                              AS sum_qty,
                   {sql_money_sum('l_extendedprice')}                     AS sum_base_price,
                   {sql_dround(sql_revenue_sum('l_extendedprice', 'l_discount'), 2)} AS sum_disc_price,
                   {sql_dround(sql_int_avg('l_quantity'), 4)}             AS avg_qty,
                   {sql_dround(sql_money_avg('l_discount'), 6)}           AS avg_disc,
                   COUNT(*)                                               AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "union_all_orders": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "category_reach": retail_views.with_retail_ctes("""
            SELECT p.category,
                   CAST(COUNT(DISTINCT st.customer_id) AS BIGINT) AS unique_buyers,
                   CAST(SUM(st.quantity) AS BIGINT) AS total_quantity
            FROM sale_transactions st JOIN products p USING (product_id)
            GROUP BY p.category
            ORDER BY p.category
        """),
        "repeat_buyers_intersect": """
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        """,
        "user_event_unpivot": """
            SELECT user_id, t.event_type,
                   CAST(COUNT(*) FILTER (WHERE e.event_type = t.event_type)
                        AS BIGINT) AS n
            FROM events e
            CROSS JOIN (SELECT unnest(['click','error','purchase','signup','view'])
                        AS event_type) t
            GROUP BY user_id, t.event_type
        """,
        "silver_clean_events": """
            SELECT event_id,
                   CAST(ts AS DATE)            AS event_date,
                   event_type,
                   COALESCE(value, 0.0)        AS value_filled,
                   user_id IS NOT NULL         AS has_user
            FROM events
        """,
        "dq_summary_customer": f"""
            SELECT
              (SELECT COUNT(*) FROM customer)                       AS row_count,
              (SELECT COUNT(DISTINCT c_custkey) FROM customer)      AS distinct_keys,
              (SELECT CAST(SUM(
                   (c_custkey IS NULL)::INT + (c_name IS NULL)::INT +
                   (c_nationkey IS NULL)::INT + (c_acctbal IS NULL)::INT +
                   (c_mktsegment IS NULL)::INT) AS BIGINT)
               FROM customer)                                       AS null_cells,
              (SELECT {sql_dround('MIN(c_acctbal)', 2)} FROM customer)       AS min_acctbal,
              (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM customer)) AS distinct_rows
        """,
    }
    oracles["text_features"] = text_ops.oracle_text_features_sql()
    oracles["dsir_importance"] = dsir_ops.oracle_dsir_importance_sql()
    oracles["dsir_select"] = dsir_ops.oracle_dsir_select_sql()
    oracles["mixing_plan"] = mixing_ops.oracle_mixing_plan_sql(
        MIX_WEIGHTS, MIX_BUDGET
    )
    # streaming end-state == batch (count additivity) -> same oracle
    oracles["dsir_stream_importance"] = dsir_ops.oracle_dsir_importance_sql()
    oracles["source_entropy"] = mixing_ops.oracle_source_entropy_sql()
    oracles["length_drift_chisq"] = drift_ops.oracle_length_drift_sql()
    oracles["source_token_kl"] = drift_ops.oracle_source_token_kl_sql()
    oracles["snapshot_value_psi"] = drift_ops.oracle_snapshot_psi_sql()
    # streaming end-state == batch (count additivity) -> same oracle
    oracles["psi_stream_drift"] = drift_ops.oracle_snapshot_psi_sql()
    oracles["chisq_stream_drift"] = drift_ops.oracle_length_drift_sql()
    oracles["kl_stream_drift"] = drift_ops.oracle_source_token_kl_sql()
    oracles["mixing_sample"] = mixing_ops.oracle_mixing_sample_sql(
        MIX_WEIGHTS, MIX_BUDGET
    )
    oracles["dup_spans"] = span_ops.oracle_dup_spans_sql()
    oracles["strip_dup_spans"] = span_ops.oracle_strip_dup_spans_sql()
    oracles["length_model_fit"] = regress_ops.oracle_length_model_fit_sql()
    oracles["length_model_outliers"] = (
        regress_ops.oracle_length_model_outliers_sql()
    )
    oracles["zorder_layout"] = layout_ops.oracle_zorder_layout_sql()
    oracles["data_card"] = datacard_ops.oracle_data_card_sql()
    oracles["order_value_quantiles"] = (
        relational.oracle_order_value_quantiles_sql()
    )
    oracles["bpe_merges"] = bpe_ops.oracle_bpe_merges_sql()
    oracles["bpe_doc_tokens"] = bpe_ops.oracle_bpe_doc_tokens_sql()
    oracles["bpe_encode_docs"] = _csv_oracle(
        bpe_ops.oracle_bpe_encode_docs_sql(),
        array_cols=["token_ids"],
        other_cols=["doc_id", "n_tokens"],
        order_by="doc_id",
    )
    # persisted-model encode over the training corpus == the from-
    # scratch encode (same dictionary, same joins) — same twin
    oracles["bpe_encode_persisted"] = oracles["bpe_encode_docs"]
    oracles["pq_codebooks"] = pq_ops.oracle_pq_codebooks_sql()
    oracles["pq_sdc_near_dup"] = pq_ops.oracle_pq_sdc_near_dup_sql()
    oracles["pq_codes"] = _csv_oracle(
        pq_ops.oracle_pq_codes_sql(),
        array_cols=["codes"],
        other_cols=["vec_id"],
        order_by="vec_id",
    )
    oracles["pq_topk"] = pq_ops.oracle_pq_topk_sql()
    oracles["pq_recall"] = pq_ops.oracle_pq_recall_sql()
    oracles["ivf_pq_topk"] = pq_ops.oracle_ivf_pq_topk_sql()
    oracles["ivf_pq_residual_topk"] = (
        pq_ops.oracle_ivf_pq_residual_topk_sql()
    )
    oracles["normalize_text"] = text_ops.oracle_normalize_text_sql()
    oracles["corpus_stats"] = text_ops.oracle_corpus_stats_sql()
    oracles["language_id"] = text_ops.oracle_language_id_sql()
    oracles["repetition_signals"] = text_ops.oracle_repetition_signals_sql()
    oracles["compression_signals"] = (
        text_ops.oracle_compression_signals_values(n=60)
    )
    oracles["pii_redact_docs"] = text_ops.oracle_pii_redact_sql()
    oracles["scd2_customers"] = scd_ops.oracle_scd2_sql(
        current_cte=(
            "SELECT c_custkey, c_acctbal AS acctbal, "
            "c_mktsegment AS segment, DATE '1995-01-01' AS effective_from, "
            "CAST(NULL AS DATE) AS effective_to, TRUE AS is_current "
            "FROM customer"
        ),
        updates_cte=(
            "SELECT c.c_custkey, "
            "c.c_acctbal + COALESCE(o.n_open, 0) * 10.0 AS acctbal, "
            "c.c_mktsegment AS segment FROM customer c LEFT JOIN ("
            "SELECT o_custkey, COUNT(*) AS n_open FROM orders "
            "WHERE o_orderstatus = 'O' GROUP BY 1) o "
            "ON c.c_custkey = o.o_custkey"
        ),
        key="c_custkey",
        tracked=["acctbal", "segment"],
        effective_date="1998-08-01",
    )
    _scd2_b0 = (
        "SELECT c_custkey, c_acctbal AS acctbal, "
        "c_mktsegment AS segment FROM customer"
    )
    _scd2_b1 = (
        "SELECT c.c_custkey, "
        "c.c_acctbal + COALESCE(o.n_open, 0) * 10.0 AS acctbal, "
        "c.c_mktsegment AS segment FROM customer c LEFT JOIN ("
        "SELECT o_custkey, COUNT(*) AS n_open FROM orders "
        "WHERE o_orderstatus = 'O' GROUP BY 1) o "
        "ON c.c_custkey = o.o_custkey"
    )
    _scd2_empty = (
        "SELECT CAST(NULL AS BIGINT) AS c_custkey, "
        "CAST(NULL AS DOUBLE) AS acctbal, "
        "CAST(NULL AS VARCHAR) AS segment, "
        "CAST(NULL AS DATE) AS effective_from, "
        "CAST(NULL AS DATE) AS effective_to, "
        "CAST(NULL AS BOOLEAN) AS is_current WHERE FALSE"
    )
    # streaming replay = the same merge applied twice: nest merge #1's
    # full SQL as merge #2's current_dim CTE body
    oracles["scd2_stream_replay"] = scd_ops.oracle_scd2_sql(
        current_cte=scd_ops.oracle_scd2_sql(
            current_cte=_scd2_empty,
            updates_cte=_scd2_b0,
            key="c_custkey",
            tracked=["acctbal", "segment"],
            effective_date="2024-01-01",
        ),
        updates_cte=_scd2_b1,
        key="c_custkey",
        tracked=["acctbal", "segment"],
        effective_date="2024-01-02",
    )
    oracles["snapshot_diff_customers"] = scd_ops.oracle_snapshot_diff_sql(
        old_cte=(
            "SELECT c_custkey, c_acctbal AS acctbal, "
            "c_mktsegment AS segment FROM customer WHERE c_custkey % 97 <> 0"
        ),
        new_cte=(
            "SELECT c.c_custkey, "
            "c.c_acctbal + COALESCE(o.n_open, 0) * 10.0 AS acctbal, "
            "c.c_mktsegment AS segment FROM customer c LEFT JOIN ("
            "SELECT o_custkey, COUNT(*) AS n_open FROM orders "
            "WHERE o_orderstatus = 'O' GROUP BY 1) o "
            "ON c.c_custkey = o.o_custkey WHERE c.c_custkey % 101 <> 0"
        ),
        key="c_custkey",
        compared=["acctbal", "segment"],
    )
    oracles["source_cap_docs"] = sampling.oracle_source_cap_sql()
    oracles["corpus_shuffle"] = sampling.oracle_corpus_shuffle_sql(
        "documents", ["doc_id"], select="doc_id, source"
    )
    oracles["decontaminate_docs"] = decontam_ops.oracle_decontaminate_sql(
        "source = 'src0'"
    )
    oracles["dedup_exact"] = dedup_ops.oracle_exact_dedup_sql()
    oracles["fuzzy_part_names"] = dedup_ops.oracle_fuzzy_name_matches_sql()
    oracles["dedup_rate_report"] = dedup_ops.oracle_dedup_rate_report_sql()
    oracles["cms_heavy_hitters"] = sketches.oracle_cms_heavy_hitters_sql()
    oracles["cms_stream_heavy_hitters"] = (
        sketches.oracle_cms_heavy_hitters_sql()
    )
    oracles["near_dup_recall"] = dedup_ops.oracle_near_dup_recall_sql()
    oracles["curriculum_mix"] = mixing_ops.oracle_curriculum_mix_sql(
        MIX_WEIGHTS, MIX_BUDGET
    )
    oracles["event_key_skew"] = skew_ops.oracle_key_skew_report_sql(
        "events", "user_id"
    )
    oracles["knn_graph"] = sim_ops.oracle_knn_graph_sql()
    oracles["semantic_dedup"] = sim_ops.oracle_semantic_dedup_sql()
    from retail_etl_pipeline_airflow_s3_athena_spark.functions import quality as _quality
    oracles["bigram_prob_score"] = vocab_ops.oracle_bigram_prob_score_sql()
    oracles["rolling_distinct_users"] = (
        sketches.oracle_rolling_distinct_users_sql()
    )
    oracles["dup_triangles"] = cluster_ops.oracle_dup_triangles_sql()
    oracles["basket_rules"] = relational.oracle_basket_rules_sql()
    oracles["build_training_set"] = (
        training_ops.oracle_build_training_set_sql()
    )
    oracles["training_manifest"] = (
        training_ops.oracle_training_manifest_sql()
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.dedup import (
        _sql_md5_hash as _diff_hash,
    )

    oracles["manifest_diff"] = training_ops.oracle_manifest_diff_sql(
        f"{_diff_hash('CAST(doc_id AS VARCHAR)')} % 10 < 9"
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.skew import (
        oracle_salted_segment_order_stats_sql,
    )

    oracles["salted_segment_order_stats"] = (
        oracle_salted_segment_order_stats_sql()
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.sources.catalog import (
        oracle_bucketed_segment_order_stats_sql,
    )

    oracles["bucketed_segment_order_stats"] = (
        oracle_bucketed_segment_order_stats_sql()
    )
    oracles["event_transitions"] = event_ops.oracle_event_transitions_sql()
    oracles["standardize_embeddings"] = (
        quant_ops.oracle_standardize_embeddings_sql()
    )
    oracles["profile_customers"] = _quality.oracle_table_profile_sql(
        "customer",
        ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    oracles["containment_pairs"] = dedup_ops.oracle_containment_pairs_sql()
    oracles["cluster_size_histogram"] = (
        cluster_ops.oracle_cluster_size_histogram_sql()
    )
    oracles["embedding_outliers"] = sim_ops.oracle_embedding_outliers_sql()
    oracles["ngram_novelty"] = winnow_ops.oracle_ngram_novelty_sql()
    oracles["dup_span_stats"] = winnow_ops.oracle_dup_span_stats_sql()
    oracles["encode_token_ids"] = vocab_ops.oracle_encode_token_ids_sql()
    oracles["pagerank_near_dups"] = cluster_ops.oracle_pagerank_near_dups_sql()
    oracles["dataset_split_docs"] = sampling.oracle_dataset_split_sql(
        "documents", ["doc_id"], select="doc_id, source"
    )
    oracles["bloom_decontaminate"] = decontam_ops.oracle_bloom_decontaminate_sql(
        "source = 'src0'"
    )
    oracles["fuzzy_decontaminate"] = decontam_ops.oracle_fuzzy_decontaminate_sql(
        "source = 'src0'"
    )
    oracles["winnow_fingerprints"] = winnow_ops.oracle_winnow_fingerprints_sql()
    oracles["winnow_shared_pairs"] = winnow_ops.oracle_winnow_shared_pairs_sql()
    oracles["minhash_signatures"] = dedup_ops.oracle_minhash_signatures_sql()
    oracles["lsh_candidate_pairs"] = dedup_ops.oracle_lsh_candidate_pairs_sql()
    oracles["near_dup_pairs"] = dedup_ops.oracle_near_dup_pairs_sql()
    oracles["incremental_near_dups"] = (
        dedup_ops.oracle_incremental_near_dups_sql("source = 'src1'")
    )
    oracles["near_dup_clusters"] = cluster_ops.oracle_near_dup_clusters_sql()
    oracles["dedup_corpus"] = cluster_ops.oracle_dedup_keep_sql()
    oracles["dedup_keep_best"] = cluster_ops.oracle_dedup_keep_best_sql()
    oracles["source_overlap"] = dedup_ops.oracle_source_overlap_sql()
    oracles["simhash_signatures"] = dedup_ops.oracle_simhash_sql()
    oracles["simhash_near_dup"] = dedup_ops.oracle_simhash_near_dup_sql()
    oracles["blocked_jaccard_pairs"] = dedup_ops.oracle_blocked_jaccard_sql()
    oracles["cosine_topk"] = sim_ops.oracle_cosine_topk_sql()
    oracles["cosine_topk_gemm"] = sim_ops.oracle_cosine_topk_sql()
    oracles["label_centroids"] = sim_ops.oracle_label_centroids_sql()
    oracles["ivf_topk"] = sim_ops.oracle_ivf_topk_sql()
    oracles["kmeans_refine"] = sim_ops.oracle_kmeans_refine_sql()
    oracles["kmeans_two_round"] = sim_ops.oracle_kmeans_fit_sql(rounds=2)
    oracles["rp_lsh_signatures"] = sim_ops.oracle_rp_lsh_sql()
    oracles["embedding_near_dup"] = sim_ops.oracle_embedding_near_dup_sql()
    oracles["embedding_near_dup_lsh"] = (
        sim_ops.oracle_embedding_near_dup_lsh_sql()
    )
    oracles["embedding_near_dup_gemm"] = sim_ops.oracle_embedding_near_dup_sql()
    oracles["windowed_event_stats"] = event_ops.oracle_windowed_stats_sql()
    oracles["sessionize_events"] = event_ops.oracle_sessionize_sql()
    oracles["topk_events_per_type"] = event_ops.oracle_topk_events_sql()
    oracles["session_window_stats"] = event_ops.oracle_session_window_sql()
    oracles["user_event_pivot"] = event_ops.oracle_user_pivot_sql()
    oracles["extract_props"] = event_ops.oracle_extract_props_sql()
    oracles["asof_join_events"] = asof_ops.oracle_asof_join_sql()
    oracles["event_value_quantiles"] = event_ops.oracle_event_quantiles_sql()
    oracles["funnel_conversion"] = event_ops.oracle_funnel_sql()
    oracles["weekly_retention"] = event_ops.oracle_weekly_retention_sql()
    oracles["value_histogram"] = event_ops.oracle_value_histogram_sql()
    oracles["doc_chunks"] = training_ops.oracle_doc_chunks_sql()
    oracles["pack_sequences"] = training_ops.oracle_pack_sequences_sql()
    oracles["pack_bins"] = training_ops.oracle_pack_bins_sql()
    oracles["quality_filter_docs"] = training_ops.oracle_quality_percentile_sql()
    oracles["curated_docs"] = training_ops.oracle_curated_docs_sql()
    oracles["hash_sample_events"] = sampling.oracle_hash_sample_sql(
        "events", ["event_id"], 0.1,
        select="event_id, user_id, event_type, value",
    )
    oracles["stratified_sample_docs"] = sampling.oracle_stratified_sample_sql(
        "documents", "lang", {"en": 0.25, "de": 0.75}, ["doc_id"],
        default_rate=1.0, select="doc_id, lang, source",
    )
    import hashlib as _hashlib
    import struct as _struct

    import numpy as _np

    _mm_rows = []
    for _mid in range(60):
        _kind_code = _mid % 3
        _b = mm_ops.make_payload(_mid, _kind_code)
        _, _mw, _mh, _mdur = mm_ops._parse_header(_b)
        _body = _b[mm_ops.HEADER_LEN:]
        _hist0 = sum(1 for _byte in _body if _byte % mm_ops.FEATURE_DIM == 0)
        _mm_rows.append(
            f"({_mid}, '{mm_ops.KINDS[_kind_code]}', {_mw}, {_mh}, "
            f"{_mdur}, {len(_b)}, "
            f"'{_hashlib.sha256(_b).hexdigest()[:16]}', "
            f"{_hist0 * 10**6 // max(len(_body), 1)})"
        )
    oracles["multimodal_pipeline"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, kind, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(duration_ms AS INT) AS duration_ms, "
        "CAST(n_bytes AS BIGINT) AS n_bytes, checksum, "
        "CAST(f0_e6 AS BIGINT) AS f0_e6 FROM (VALUES "
        + ", ".join(_mm_rows)
        + ") AS t(media_id, kind, width, height, duration_ms, n_bytes,"
        " checksum, f0_e6) ORDER BY media_id"
    )
    _resize_rows = []
    for _mid in range(40):
        _img = mm_ops._decode_raw(mm_ops.make_raw_image(_mid))
        _h, _w, _c = _img.shape
        _iy = (_np.arange(8) * _h) // 8
        _ix = (_np.arange(8) * _w) // 8
        _out = (
            mm_ops.RAW_MAGIC
            + _struct.pack("<III", 8, 8, _c)
            + _img[_iy][:, _ix].tobytes()
        )
        _resize_rows.append(
            f"({_mid}, 8, 8, {_c}, "
            f"'{_hashlib.sha256(_out).hexdigest()[:16]}')"
        )
    oracles["resize_raw_images"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(channels AS INT) AS channels, checksum FROM (VALUES "
        + ", ".join(_resize_rows)
        + ") AS t(media_id, width, height, channels, checksum) "
        "ORDER BY media_id"
    )
    _png_rows = []
    for _mid in range(40):
        _ph, _pw, _pc, _pmean, _pedge, _pck = png_ops.png_stats(
            png_ops.make_png_image(_mid)
        )
        _png_rows.append(
            f"({_mid}, {_pw}, {_ph}, {_pc}, {_pmean}, {_pedge}, '{_pck}')"
        )
    oracles["image_near_dup"] = ih_ops.oracle_image_near_dup_values(n=48)
    oracles["video_near_dup"] = vdup_ops.oracle_video_near_dup_values(n=30)
    oracles["audio_near_dup"] = wav_ops.oracle_audio_near_dup_values(n=30)
    oracles["html_extract_docs"] = html_ops.oracle_html_roundtrip_sql()
    oracles["stored_near_dups"] = store_ops.oracle_stored_near_dups_sql(
        "source = 'src1'"
    )
    oracles["ann_index_topk"] = pq_ops.oracle_ivf_pq_topk_sql()
    oracles["ann_index_append_topk"] = pq_ops.oracle_ivf_pq_topk_sql(
        table=(
            "(SELECT vec_id, embedding, label FROM embeddings"
            " UNION ALL"
            f" SELECT vec_id + {ANN_APPEND_SHIFT}, embedding, label"
            " FROM embeddings) dbl"
        )
    )
    # compaction is content-preserving, so the compacted gate answers
    # the SAME doubled-corpus oracle as the append gate
    oracles["ann_index_compacted_topk"] = oracles["ann_index_append_topk"]
    # deletes exclude candidates only (training/cells/probing still see
    # every vector — the tombstone semantics); compaction folds the
    # tombstones physically and answers the SAME oracle
    oracles["ann_index_deleted_topk"] = pq_ops.oracle_ivf_pq_topk_sql(
        table=(
            "(SELECT vec_id, embedding, label FROM embeddings"
            " UNION ALL"
            f" SELECT vec_id + {ANN_APPEND_SHIFT}, embedding, label"
            " FROM embeddings) dbl"
        ),
        cand_pred=(
            f"{{c}}.vec_id % {ANN_DELETE_MOD} <> {ANN_DELETE_RESIDUE}"
        ),
    )
    oracles["ann_index_delete_compacted"] = (
        oracles["ann_index_deleted_topk"]
    )
    oracles["ann_index_staleness"] = annindex_ops.oracle_ann_staleness_sql()
    oracles["ann_index_rebuilt_topk"] = (
        annindex_ops.oracle_ann_rebuilt_topk_sql()
    )
    # bronze CSV round-trip: the oracle summarizes the ORIGINAL parquet;
    # the Spark side must land on the same values AFTER the CSV
    # write/infer/parse cycle
    oracles["unigram_vocab"] = unigram_ops.oracle_unigram_vocab_sql()
    oracles["unigram_encode_docs"] = (
        unigram_ops.oracle_unigram_encode_docs_sql()
    )
    oracles["quality_model_fit"] = clf_ops.oracle_quality_model_fit_sql()
    oracles["quality_model_scores"] = (
        clf_ops.oracle_quality_model_scores_sql()
    )
    # persisted-model encode reproduces the inline encode bit-for-bit
    # on the training corpus — same oracle (the bpe_encode_persisted
    # pattern)
    oracles["unigram_encode_persisted"] = oracles["unigram_encode_docs"]
    oracles["bronze_roundtrip"] = f"""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
               CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT)
                   AS total_cents,
               CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
               CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
        FROM orders GROUP BY o_orderstatus ORDER BY status"""
    oracles["store_ingest_loop"] = store_ops.oracle_store_ingest_loop_sql(
        "source NOT IN ('src1', 'src2')",
        "source = 'src1'",
        "source = 'src2'",
    )
    oracles["store_compacted_dedup"] = (
        store_ops.oracle_store_ingest_loop_sql(
            "source NOT IN ('src1', 'src2')",
            "source = 'src1'",
            "source = 'src2'",
            compacted=True,
        )
    )
    oracles["png_features"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(channels AS INT) AS channels, "
        "CAST(mean_c0_e2 AS BIGINT) AS mean_c0_e2, "
        "CAST(edge_energy AS BIGINT) AS edge_energy, pixel_checksum "
        "FROM (VALUES " + ", ".join(_png_rows)
        + ") AS t(media_id, width, height, channels, mean_c0_e2,"
        " edge_energy, pixel_checksum) ORDER BY media_id"
    )
    _bmp_rows = []
    for _mid in range(40):
        _bh, _bw, _bc, _bmean, _bedge, _bck = bmp_ops.bmp_stats(
            bmp_ops.make_bmp_image(_mid)
        )
        _bmp_rows.append(
            f"({_mid}, {_bw}, {_bh}, {_bc}, {_bmean}, {_bedge}, '{_bck}')"
        )
    oracles["bmp_features"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(channels AS INT) AS channels, "
        "CAST(mean_c0_e2 AS BIGINT) AS mean_c0_e2, "
        "CAST(edge_energy AS BIGINT) AS edge_energy, pixel_checksum "
        "FROM (VALUES " + ", ".join(_bmp_rows)
        + ") AS t(media_id, width, height, channels, mean_c0_e2,"
        " edge_energy, pixel_checksum) ORDER BY media_id"
    )
    _jpeg_rows = []
    for _mid in range(40):
        _jh, _jw, _jc, _jmean, _jedge, _jck = jpeg_ops.jpeg_stats(
            jpeg_ops.make_jpeg_image(_mid)
        )
        _jpeg_rows.append(
            f"({_mid}, {_jw}, {_jh}, {_jc}, {_jmean}, {_jedge}, '{_jck}')"
        )
    oracles["jpeg_features"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(channels AS INT) AS channels, "
        "CAST(mean_c0_e2 AS BIGINT) AS mean_c0_e2, "
        "CAST(edge_energy AS BIGINT) AS edge_energy, pixel_checksum "
        "FROM (VALUES " + ", ".join(_jpeg_rows)
        + ") AS t(media_id, width, height, channels, mean_c0_e2,"
        " edge_energy, pixel_checksum) ORDER BY media_id"
    )
    _wav_rows = []
    for _mid in range(40):
        _wc, _wch, _wr, _wn, _wrms, _wzc, _wpk = wav_ops.wav_stats(
            wav_ops.make_wav_clip(_mid)
        )
        _wav_rows.append(
            f"({_mid}, '{_wc}', {_wch}, {_wr}, {_wn}, {_wrms},"
            f" {_wzc}, {_wpk})"
        )
    oracles["wav_features"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, codec, "
        "CAST(channels AS INT) AS channels, "
        "CAST(sample_rate AS INT) AS sample_rate, "
        "CAST(n_samples AS BIGINT) AS n_samples, "
        "CAST(rms_e6 AS BIGINT) AS rms_e6, "
        "CAST(zero_crossings AS BIGINT) AS zero_crossings, "
        "CAST(peak AS INT) AS peak FROM (VALUES "
        + ", ".join(_wav_rows)
        + ") AS t(media_id, codec, channels, sample_rate, n_samples,"
        " rms_e6, zero_crossings, peak) ORDER BY media_id"
    )
    _band_rows = []
    for _mid in range(40):
        for _bc, _bch, _bm, _be in wav_ops.wav_band_stats(
            wav_ops.make_wav_clip(_mid)
        ):
            _band_rows.append(f"({_mid}, '{_bc}', {_bch}, {_bm}, {_be})")
    oracles["wav_band_energy"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, codec, "
        "CAST(channel AS INT) AS channel, "
        "CAST(band_m AS INT) AS band_m, CAST(energy AS BIGINT) AS energy "
        "FROM (VALUES " + ", ".join(_band_rows)
        + ") AS t(media_id, codec, channel, band_m, energy) "
        "ORDER BY media_id, channel, band_m"
    )
    _mjpeg_rows = []
    for _mid in range(25):
        for _r in avi_ops.mjpeg_frame_stats(
            avi_ops.make_avi_mjpeg_clip(_mid), every_n=2
        ):
            _mjpeg_rows.append(
                f"({_mid}, {_r[0]}, {_r[1]}, {_r[2]}, {_r[3]}, '{_r[4]}')"
            )
    oracles["mjpeg_frame_luma"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(mean_luma_e4 AS BIGINT) AS mean_luma_e4, frame_checksum "
        "FROM (VALUES " + ", ".join(_mjpeg_rows)
        + ") AS t(media_id, frame_idx, width, height, mean_luma_e4,"
        " frame_checksum) ORDER BY media_id, frame_idx"
    )
    _gif_rows = []
    for _mid in range(25):
        for _r in gif_ops.gif_frame_stats(
            gif_ops.make_gif_clip(_mid), every_n=2
        ):
            _gif_rows.append(
                f"({_mid}, {_r[0]}, {_r[1]}, {_r[2]}, {_r[3]}, {_r[4]},"
                f" '{_r[5]}')"
            )
    oracles["warc_ingest_docs"] = (
        "SELECT doc_id, source, text, "
        "CAST(strlen(text) AS BIGINT) AS n_bytes "
        "FROM documents ORDER BY doc_id"
    )
    oracles["wet_ingest_docs"] = (
        "SELECT doc_id, source, text, "
        "CAST(strlen(text) AS BIGINT) AS n_bytes "
        "FROM documents ORDER BY doc_id"
    )
    oracles["warc_revisit_resolved"] = (
        warc_ops.oracle_warc_revisit_sql("documents") + " ORDER BY doc_id"
    )
    oracles["cdx_index_records"] = cdx_ops.oracle_cdx_index_sql()
    oracles["cdx_host_stats"] = cdx_ops.oracle_cdx_host_stats_sql()
    oracles["crawl_delta_report"] = cdx_ops.oracle_crawl_delta_sql()
    oracles["cdx_store_lookup"] = cdx_ops.oracle_cdx_lookup_sql(
        ("src3", "src7", "src11")
    )
    oracles["page_outlinks"] = links_ops.oracle_page_outlinks_sql()
    oracles["host_link_graph"] = links_ops.oracle_host_link_graph_sql()
    oracles["crawl_frontier_hosts"] = links_ops.oracle_crawl_frontier_sql()
    oracles["host_authority_rank"] = links_ops.oracle_host_authority_sql()
    oracles["tar_ingest_docs"] = archive_ops.oracle_tar_roundtrip_sql()
    oracles["zip_ingest_docs"] = archive_ops.oracle_zip_roundtrip_sql()
    _robots_rows = robots_ops.fixture_rule_rows()
    oracles["robots_rules_parsed"] = (
        "SELECT host, agent, rule, pattern FROM (VALUES "
        + ", ".join(
            f"('{h}', '{a}', '{r}', '{p}')" for h, a, r, p in _robots_rows
        )
        + ") AS t(host, agent, rule, pattern) "
        "ORDER BY host, agent, rule, pattern"
    )
    oracles["robots_filter_captures"] = robots_ops.oracle_decisions_sql(
        _robots_rows,
        robots_ops.sql_capture_paths("documents"),
        robots_ops.FIXTURE_AGENT,
    )
    oracles["polite_fetch_plan"] = (
        robots_ops.oracle_fetch_plan_sql(
            _robots_rows,
            robots_ops.sql_capture_paths("documents"),
            robots_ops.FIXTURE_AGENT,
        )
        + " ORDER BY host, fetch_at_s, doc_id"
    )
    oracles["sitemap_urls_parsed"] = (
        sitemap_ops.sql_parse_sitemaps(
            sitemap_ops.sql_fixture_sitemaps("documents")
        )
        + " ORDER BY host, loc"
    )
    oracles["crawl_coverage_report"] = (
        sitemap_ops.oracle_coverage_report_sql("documents")
    )
    _declared = sorted(
        (host, u)
        for host, text in robots_ops.ROBOTS_FIXTURE_TEXTS.items()
        for u in sitemap_ops.sitemap_directives_text(text)
    )
    oracles["robots_declared_sitemaps"] = (
        "SELECT host, sitemap_url FROM (VALUES "
        + ", ".join(f"('{h}', '{u}')" for h, u in _declared)
        + ") AS t(host, sitemap_url) ORDER BY host, sitemap_url"
    )
    oracles["crawl_coverage_discovered"] = (
        sitemap_ops.oracle_coverage_discovered_sql(
            sorted({h for h, _ in _declared})
        )
        + " ORDER BY host"
    )
    oracles["sitemap_index_expanded"] = (
        sitemap_ops.oracle_index_expanded_sql("documents")
        + " ORDER BY host, loc"
    )
    oracles["sitemap_recrawl_candidates"] = (
        sitemap_ops.oracle_recrawl_sql("documents")
        + " ORDER BY host, path"
    )
    oracles["url_canonical_dedup"] = (
        url_ops.oracle_url_canonical_dedup_sql()
    )
    # multimodal training set: the media leg's (id, type, units) rows
    # recomputed locally from the same deterministic corpus (the
    # router-oracle composition)
    _mm_rows = [
        (mid, *router_ops.decode_any(bytes(p))[:2])
        for mid, p in router_ops._mixed_payloads(72)
    ]
    oracles["multimodal_training_set"] = (
        training_ops.oracle_multimodal_training_set_sql(_mm_rows)
    )
    oracles["multimodal_manifest"] = (
        training_ops.oracle_multimodal_manifest_sql(_mm_rows)
    )
    oracles["crawl_to_training_set"] = (
        crawl_plans.oracle_crawl_to_training_set_sql()
    )
    oracles["crawl_admitted_training_set"] = (
        crawl_plans.oracle_crawl_admitted_training_set_sql()
    )
    oracles["crawl_dedup_report"] = (
        crawl_plans.oracle_crawl_dedup_report_sql()
    )
    oracles["jsonl_roundtrip"] = (
        "SELECT c.codec, d.doc_id, d.source, d.text, "
        "CAST(LENGTH(d.text) AS BIGINT) AS n_chars "
        "FROM documents d CROSS JOIN "
        "(VALUES ('plain'), ('gzip')) AS c(codec) "
        "ORDER BY c.codec, d.doc_id"
    )
    _mm_rows_old = [
        (mid, *router_ops.decode_any(bytes(p))[:2])
        for mid, p in router_ops._mixed_payloads(54)
    ]
    oracles["multimodal_manifest_diff"] = (
        training_ops.oracle_multimodal_manifest_diff_sql(
            _mm_rows_old,
            _mm_rows,
            f"{_diff_hash('CAST(doc_id AS VARCHAR)')} % 10 < 9",
        )
    )
    _census_rows = [
        f"('{k}', {n}, {u}, '{fold}')"
        for k, n, u, fold in router_ops.local_census(72)
    ]
    oracles["media_type_census"] = (
        "SELECT media_type, CAST(n_items AS BIGINT) AS n_items, "
        "CAST(total_units AS BIGINT) AS total_units, checksum_fold "
        "FROM (VALUES " + ", ".join(_census_rows)
        + ") AS t(media_type, n_items, total_units, checksum_fold) "
        "ORDER BY media_type"
    )
    oracles["gif_frame_luma"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
        "CAST(n_colors AS INT) AS n_colors, "
        "CAST(mean_luma_e4 AS BIGINT) AS mean_luma_e4, frame_checksum "
        "FROM (VALUES " + ", ".join(_gif_rows)
        + ") AS t(media_id, frame_idx, width, height, n_colors,"
        " mean_luma_e4, frame_checksum) ORDER BY media_id, frame_idx"
    )
    _audio_rows = []
    for _mid in range(40):
        import math as _math

        _rate, _x = mm_ops._decode_raw_audio(mm_ops.make_raw_audio(_mid))
        _n = len(_x)
        _audio_rows.append(
            f"({_mid}, {_rate}, {_n}, "
            f"{_math.isqrt(int((_x * _x).sum()) * 10**12 // _n)}, "
            f"{int(((_x[:-1] >= 0) != (_x[1:] >= 0)).sum())}, "
            f"{int(abs(_x).max())})"
        )
    oracles["audio_features_raw"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(sample_rate AS INT) AS sample_rate, "
        "CAST(n_samples AS BIGINT) AS n_samples, "
        "CAST(rms_e6 AS BIGINT) AS rms_e6, "
        "CAST(zero_crossings AS BIGINT) AS zero_crossings, "
        "CAST(peak AS INT) AS peak FROM (VALUES "
        + ", ".join(_audio_rows)
        + ") AS t(media_id, sample_rate, n_samples, rms_e6,"
        " zero_crossings, peak) ORDER BY media_id"
    )
    _frame_rows = []
    for _mid in range(25):
        _b = mm_ops.make_raw_video(_mid)
        _w, _h, _c, _nf = _struct.unpack_from("<IIII", _b, 4)
        for _idx in range(0, _nf, 2):
            _off = mm_ops.VIDEO_HEADER_LEN + _idx * _w * _h * _c
            _frame = _np.frombuffer(
                _b, dtype="uint8", count=_w * _h * _c, offset=_off
            ).reshape(_h, _w, _c).astype(_np.int64)
            _ls = int(
                (_frame[:, :, 0] * 299 + _frame[:, :, 1] * 587
                 + _frame[:, :, 2] * 114).sum()
            ) // 1000
            _ck = _hashlib.sha256(
                _frame.astype("uint8").tobytes()
            ).hexdigest()[:12]
            _frame_rows.append(
                f"({_mid}, {_idx}, {_ls * 10**4 // (_w * _h)}, '{_ck}')"
            )
    oracles["video_frame_luma"] = (
        "SELECT CAST(media_id AS BIGINT) AS media_id, "
        "CAST(frame_idx AS INT) AS frame_idx, "
        "CAST(mean_luma_e4 AS BIGINT) AS mean_luma_e4, frame_checksum "
        "FROM (VALUES " + ", ".join(_frame_rows)
        + ") AS t(media_id, frame_idx, mean_luma_e4, frame_checksum) "
        "ORDER BY media_id, frame_idx"
    )
    oracles["hll_distinct_users"] = sketches.oracle_hll_distinct_sql(
        "events", "user_id", ["event_type"]
    )
    oracles["hll_stream_estimates"] = (
        "SELECT event_type, est_distinct FROM ("
        + sketches.oracle_hll_distinct_sql("events", "user_id", ["event_type"])
        + ")"
    )
    oracles["concurrent_sessions"] = rangejoin_ops.oracle_concurrent_sessions_sql()
    oracles["bigram_vocab"] = vocab_ops.oracle_ngram_vocab_sql(n=2)
    oracles["tfidf_top_terms"] = vocab_ops.oracle_tfidf_sql()
    oracles["quantize_embeddings"] = quant_ops.oracle_quantize_sql()
    oracles["late_shipment_priority"] = (
        relational.oracle_late_shipment_priority_sql()
    )
    oracles["dormant_customers"] = relational.oracle_dormant_customers_sql()
    oracles["churned_buyers"] = relational.oracle_churned_buyers_sql()
    oracles["small_quantity_revenue"] = (
        relational.oracle_small_quantity_revenue_sql()
    )
    oracles["big_orders"] = relational.oracle_big_orders_sql()
    oracles["daily_revenue_delta"] = relational.oracle_daily_revenue_delta_sql()
    oracles["customer_value_tiles"] = (
        relational.oracle_customer_value_tiles_sql()
    )
    oracles["cheapest_part_supplier"] = (
        relational.oracle_cheapest_part_supplier_sql()
    )
    oracles["nation_trade_volume"] = relational.oracle_nation_trade_volume_sql()
    oracles["part_supplier_breadth"] = (
        relational.oracle_part_supplier_breadth_sql()
    )
    oracles["promo_part_suppliers"] = (
        relational.oracle_promo_part_suppliers_sql()
    )
    oracles["brand_basket_revenue"] = (
        relational.oracle_brand_basket_revenue_sql()
    )
    oracles["nation_market_share"] = (
        relational.oracle_nation_market_share_sql()
    )
    oracles["customer_order_distribution"] = (
        relational.oracle_customer_order_distribution_sql()
    )
    oracles["lone_late_supplier"] = (
        relational.oracle_lone_late_supplier_sql()
    )
    oracles["above_avg_dormant_value"] = (
        relational.oracle_above_avg_dormant_value_sql()
    )
    oracles["supplier_revenue_share"] = (
        relational.oracle_supplier_revenue_share_sql()
    )
    oracles["brand_corr_stats"] = relational.oracle_brand_corr_stats_sql()
    oracles["discount_band_revenue"] = (
        relational.oracle_discount_band_revenue_sql()
    )
    oracles["nation_year_profit"] = relational.oracle_nation_year_profit_sql()
    oracles["returned_item_customers"] = (
        relational.oracle_returned_item_customers_sql()
    )
    oracles["linestatus_priority_mix"] = (
        relational.oracle_linestatus_priority_mix_sql()
    )
    oracles["top_revenue_supplier"] = (
        relational.oracle_top_revenue_supplier_sql()
    )
    oracles["segment_year_cube"] = relational.oracle_segment_year_cube_sql()
    oracles["anomalous_revenue_days"] = (
        relational.oracle_anomalous_revenue_days_sql()
    )
    oracles["customer_order_gaps"] = (
        relational.oracle_customer_order_gaps_sql()
    )
    oracles["shipping_priority"] = f"""
        SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
               {sql_dround(sql_revenue_sum('l.l_extendedprice', 'l.l_discount'), 2)} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-06-15'
          AND l.l_shipdate > TIMESTAMP '1998-06-15'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
        LIMIT 10
    """
    dround4 = lambda e: f"FLOOR(({e}) * 10000.0 + 0.5) / 10000.0"  # noqa: E731
    oracles["local_supplier_volume"] = f"""
        SELECT n.n_name,
               {sql_revenue_sum("l.l_extendedprice", "l.l_discount")}
                   AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n.n_name ASC
    """
    oracles["promo_revenue"] = f"""
        WITH agg AS (
            SELECT
                {sql_exact_sum(
                    "CASE WHEN p.p_type = 'PROMO' THEN "
                    + sql_revenue_e4("l.l_extendedprice", "l.l_discount")
                    + " ELSE 0 END"
                )} / 1e4 AS promo_revenue,
                {sql_revenue_sum("l.l_extendedprice", "l.l_discount")}
                    AS total_revenue
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        )
        SELECT promo_revenue, total_revenue,
               {dround4("100.0 * promo_revenue / total_revenue")} AS promo_pct
        FROM agg
    """
    for name in (
        "daily_revenue",
        "daily_revenue_running",
        "daily_revenue_ma7",
        "segment_sales_rollup",
        "top_performing_customers",
        "product_analysis",
        "revenue_by_category",
    ):
        oracles[name] = analytics.oracle_for(name)
    return oracles
