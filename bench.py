"""Benchmark harness: run the headline workload at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query wall-clock seconds.

Mirrors the reference's architecture (BASELINE.md): gold tables are
materialized ONCE (the create_gold_layer stage, reported as
``gold_materialize``), then the analytical SQL runs against the
materialized gold — exactly how the reference's Athena queries hit
pre-aggregated tables.  Extension operators each run standalone.

The comparable baseline is the reference's compute path: pandas
transform + gold + quality ~= 9 s for ~11.6k input rows; we run ~600k
lineitem rows (sf0.1) plus operator families the reference doesn't have.

Each stage is timed twice and the MIN is reported: the sandbox host is
shared (co-tenant load swings wall-clock 2x run-to-run — r1 vs r2 bench
showed a uniform ~2x shift on unchanged code), and min-of-N is the
standard estimator for steady-state cost under external interference.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from retail_etl_pipeline_airflow_s3_athena_spark import get_spark
from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import release_cached
from retail_etl_pipeline_airflow_s3_athena_spark.plans import analytics, gold, retail_views

# The timed rows partition the queries() registry: the four gold tables
# are timed together as gold_materialize, the analytics SQL against the
# materialized gold, and every other entry standalone, in registry order.
GOLD_TABLES = (
    "daily_sales_summary", "top_customers", "product_performance",
    "store_performance",
)
ANALYTICS = list(analytics.ANALYTICS_SQL)
STANDALONE = [
    name for name in entrymod.queries()
    if name not in GOLD_TABLES and name not in analytics.ANALYTICS_SQL
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # JVM/codegen warmup at the tiniest SF: run the ENTIRE workload once
    # so each query's generated classes are compiled before timing — the
    # metric is steady-state throughput (what 100 TB amortizes to), not
    # first-call class loading.  Analytics SQL needs gold views; build
    # them from sf0.001 (overwritten by the timed phase below).
    warm_dir = "/root/testdata/sf0.001"
    warm_st = retail_views.sale_transactions(spark, warm_dir)
    warm_cust = retail_views.customers(spark, warm_dir)
    warm_st.createOrReplaceTempView("sale_transactions")
    warm_cust.createOrReplaceTempView("customers")
    gold.daily_sales_summary(warm_st).createOrReplaceTempView(
        "daily_sales_summary"
    )
    gold.top_customers(warm_st, warm_cust).createOrReplaceTempView(
        "top_customers"
    )
    gold.product_performance(
        warm_st, retail_views.products(spark, warm_dir)
    ).createOrReplaceTempView("product_performance")
    gold.store_performance(
        warm_st, retail_views.stores(spark, warm_dir)
    ).createOrReplaceTempView("store_performance")
    for name in ANALYTICS:
        spark.sql(analytics.ANALYTICS_SQL[name]).collect()
    for name in STANDALONE:
        wdf = qs[name](spark, warm_dir)
        wdf.collect()
        release_cached(wdf)
    # drop warmup caches (operators persist intermediates) so the timed
    # phase starts with empty storage memory
    spark.catalog.clearCache()

    ITERS = 2  # report min-of-2 (co-tenant interference, see docstring)
    timings: dict[str, float] = {}

    def record(name: str, seconds: float) -> None:
        prev = timings.get(name)
        if prev is None or seconds < prev:
            timings[name] = round(seconds, 3)

    from concurrent.futures import ThreadPoolExecutor

    for _ in range(ITERS):
        # --- create_gold_layer: materialize the 4 gold tables once ----
        spark.catalog.clearCache()
        t0 = time.time()
        # cache the fact view: all four gold builders read it (the
        # in-memory silver analog of the reference's create_gold_layer,
        # load.py:87-93)
        st = retail_views.sale_transactions(spark, sf_dir).cache()
        cust = retail_views.customers(spark, sf_dir)
        prod = retail_views.products(spark, sf_dir)
        strs = retail_views.stores(spark, sf_dir)
        st.createOrReplaceTempView("sale_transactions")
        cust.createOrReplaceTempView("customers")
        gold_tables = {
            "daily_sales_summary": gold.daily_sales_summary(st),
            "top_customers": gold.top_customers(st, cust),
            "product_performance": gold.product_performance(st, prod),
            "store_performance": gold.store_performance(st, strs),
        }
        # materialize the four tables concurrently — the driver-side
        # analog of the reference's parallel Airflow tasks; Spark's
        # scheduler interleaves the jobs across the same executor pool

        def _materialize(item):
            name, df = item
            cached = df.cache()
            cached.count()
            cached.createOrReplaceTempView(name)

        with ThreadPoolExecutor(max_workers=4) as pool:
            list(pool.map(_materialize, gold_tables.items()))
        record("gold_materialize", time.time() - t0)

        # --- analytics SQL over materialized gold ----------------------
        for name in ANALYTICS:
            t0 = time.time()
            spark.sql(analytics.ANALYTICS_SQL[name]).collect()
            record(name, time.time() - t0)

    # --- standalone operator queries -----------------------------------
    # gold caches are no longer needed; free storage memory so operator
    # persists don't evict under pressure
    spark.catalog.clearCache()
    for _ in range(ITERS):
        for name in STANDALONE:
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.collect()
            record(name, time.time() - t0)
            # release operator-owned caches (the documented ownership
            # contract) so queries don't compete for storage memory
            release_cached(df)
        spark.catalog.clearCache()

    # --- serve-phase-only timings for the persisted families -----------
    # (r8 verdict #3) The gate entries above time found+write+serve as
    # one number — honest for correctness, but the 100 TB serving
    # claims ("zero Lloyd rounds", "O(batch) ingest", "zero merge
    # rounds") need the serve cost as its own measured wall-clock.
    # Founding (train + persist) runs ONCE untimed; the timed rows are
    # the pure query/score/encode paths against the persisted state.
    import tempfile

    from retail_etl_pipeline_airflow_s3_athena_spark.operators import annindex as annidx_ops
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import bpe as bpe_serve_ops
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import dedupstore as dstore_ops
    from retail_etl_pipeline_airflow_s3_athena_spark.sources import readers as rdrs

    emb = rdrs.read_embeddings(spark, sf_dir)
    docs = rdrs.read_documents(spark, sf_dir)
    ann_path = tempfile.mkdtemp(prefix="bench_ann_serve_")
    annidx_ops.write_ann_index(emb, ann_path)
    dstore_ops.write_fingerprint_store(
        docs.filter("NOT (source = 'src1')"), "bench_fp_serve"
    )
    bpe_path = tempfile.mkdtemp(prefix="bench_bpe_serve_")
    bpe_serve_ops.write_bpe_model(docs, bpe_path)
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import unigram as ug_serve_ops

    ug_path = tempfile.mkdtemp(prefix="bench_unigram_serve_")
    ug_serve_ops.write_unigram_model(docs, ug_path)
    from retail_etl_pipeline_airflow_s3_athena_spark.plans import goldstore as goldstore_ops
    from retail_etl_pipeline_airflow_s3_athena_spark.plans import retail_views as rv_serve

    gold_path = tempfile.mkdtemp(prefix="bench_gold_serve_")
    goldstore_ops.write_gold_partials(
        rv_serve.sale_transactions(spark, sf_dir), gold_path, "founding"
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import archive as arch_serve_ops

    tar_path = tempfile.mkdtemp(prefix="bench_tar_serve_") + "/archives"
    arch_serve_ops.docs_to_tar(docs).write.parquet(tar_path)
    SERVE = {
        "ann_index_topk_serve": lambda: annidx_ops.ann_query(
            spark, ann_path, annidx_ops.corpus_queries(emb)
        ),
        "stored_near_dups_serve": lambda: dstore_ops.stored_near_dups(
            spark, docs.filter("source = 'src1'"), "bench_fp_serve"
        ),
        "bpe_encode_persisted_serve": lambda: bpe_serve_ops.encode_with_model(
            docs, bpe_path
        ),
        "unigram_encode_persisted_serve": (
            lambda: ug_serve_ops.encode_with_unigram_model(docs, ug_path)
        ),
        "gold_store_daily_serve": (
            lambda: goldstore_ops.serve_gold_daily(spark, gold_path)
        ),
        "tar_ingest_serve": (
            lambda: arch_serve_ops.tar_ingest(spark.read.parquet(tar_path))
        ),
    }
    for _ in range(ITERS):
        for name, make in SERVE.items():
            t0 = time.time()
            sdf = make()
            sdf.collect()
            record(name, time.time() - t0)
            release_cached(sdf)
        spark.catalog.clearCache()

    # Round-over-round comparability: the headline total grows whenever
    # queries are ADDED, so emit fixed-subset subtotals recomputable
    # from this artifact alone (VERDICT r4 #8: cite the artifact, not a
    # side run).  r3 = the 27-query r3 bench set; r4 = the 38-query r4
    # bench set.
    R3_SET = [
        "gold_materialize", "daily_revenue", "top_performing_customers",
        "product_analysis", "revenue_by_category", "daily_revenue_running",
        "segment_sales_rollup", "pricing_summary", "shipping_priority",
        "local_supplier_volume", "promo_revenue", "text_features",
        "dedup_exact", "minhash_signatures", "near_dup_pairs",
        "cosine_topk_gemm", "embedding_near_dup_gemm", "windowed_event_stats",
        "sessionize_events", "asof_join_events", "doc_chunks",
        "pack_sequences", "hash_sample_events", "hll_distinct_users",
        "concurrent_sessions", "simhash_near_dup", "quality_filter_docs",
    ]
    R4_SET = R3_SET + [
        "daily_revenue_ma7", "late_shipment_priority", "customer_value_tiles",
        "daily_revenue_delta", "ivf_topk", "scd2_customers", "bigram_vocab",
        "quantize_embeddings", "tfidf_top_terms", "embedding_near_dup_lsh",
        "incremental_near_dups",
    ]
    subtotals = {
        "r3_comparable_27": round(
            sum(timings.get(q, 0.0) for q in R3_SET), 3
        ),
        "r4_comparable_38": round(
            sum(timings.get(q, 0.0) for q in R4_SET), 3
        ),
    }
    # The driver captures only the TAIL of stdout (~2000 chars) and
    # parses the final JSON line — with 120+ queries the full per-query
    # dict overflows that window and the headline total is lost
    # (BENCH_r05.json came back `parsed: null`).  So: write the full
    # detail to BENCH_DETAIL.json (committed alongside the round docs),
    # and keep the FINAL printed line compact — total, subtotals, query
    # count, and only the slowest 15 queries (2dp) — well under the
    # capture window.
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "subtotals": subtotals,
        "sf": sf,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"), "w"
    ) as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in slowest.items()},
                "n_queries": len(timings),
                "queries_are": "slowest_15_of_n; full set in BENCH_DETAIL.json",
                "subtotals": subtotals,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
