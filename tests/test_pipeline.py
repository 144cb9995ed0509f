"""End-to-end pipeline (reference DAG semantics), sources/sinks,
catalog registration, column guards, quality checks."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions import quality
from retail_etl_pipeline_airflow_s3_athena_spark.plans import gold, retail_views, silver
from retail_etl_pipeline_airflow_s3_athena_spark.plans.pipeline import run_pipeline
from retail_etl_pipeline_airflow_s3_athena_spark.sources import catalog, readers, writers


def test_run_pipeline_in_memory(spark, sf_dir):
    out = run_pipeline(spark, sf_dir)
    assert out["quality"]["all_passed"]
    assert set(out["gold"]) == {
        "daily_sales_summary",
        "top_customers",
        "product_performance",
        "store_performance",
    }
    assert all(df.count() > 0 for df in out["analytics"].values())


def test_run_pipeline_with_writes_and_readback(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="pipe_")
    out = run_pipeline(spark, sf_dir, work_dir=work, run_date="20260813")
    # silver is date-partitioned (reference transform.py:46-52, Q6)
    sil = readers.read_parquet_table(spark, f"{work}/silver", "sale_transactions")
    assert quality.is_date_partitioned(sil)
    # write–read-back verification (reference transform.py:63-64)
    assert sil.count() == 6000
    assert out["quality"]["all_passed"]
    # append mode: a second run adds a new date partition
    run_pipeline(spark, sf_dir, work_dir=work, run_date="20260814")
    sil2 = readers.read_parquet_table(spark, f"{work}/silver", "sale_transactions")
    assert sil2.count() == 12000
    assert sil2.select("date").distinct().count() == 2


def test_column_guards_degrade_gracefully(spark, sf_dir):
    st = retail_views.sale_transactions(spark, sf_dir)
    # full inputs -> all four tables
    full = gold.build_gold_tables(
        st,
        retail_views.customers(spark, sf_dir),
        retail_views.products(spark, sf_dir),
        retail_views.stores(spark, sf_dir),
    )
    assert len(full) == 4
    # no stores data -> store_performance skipped (reference load.py:246)
    nostores = gold.build_gold_tables(
        st,
        retail_views.customers(spark, sf_dir),
        retail_views.products(spark, sf_dir),
    )
    assert "store_performance" not in nostores and len(nostores) == 3
    # missing unit_price -> only daily summary possible
    noprice = gold.build_gold_tables(st.drop("unit_price", "customer_id"))
    assert set(noprice) == {"daily_sales_summary"}


def test_catalog_registration(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="cat_")
    st = retail_views.sale_transactions(spark, sf_dir)
    dss = gold.daily_sales_summary(st)
    path = writers.write_gold(dss, work, "daily_sales_summary")
    catalog.create_database(spark, "shopease_analytics")
    catalog.register_parquet_table(
        spark, "shopease_analytics", "daily_sales_summary", path
    )
    got = spark.sql("SELECT COUNT(*) AS n FROM shopease_analytics.daily_sales_summary")
    assert got.first()["n"] == dss.count()
    # idempotent re-registration (reference glue_registry.py:66-81)
    catalog.register_parquet_table(
        spark, "shopease_analytics", "daily_sales_summary", path
    )


def test_bronze_csv_roundtrip(spark, sf_dir):
    work = tempfile.mkdtemp(prefix="bronze_")
    cust = retail_views.customers(spark, sf_dir)
    path = writers.write_bronze_csv(cust, work, "customers")
    back = readers.read_bronze_csv(spark, path)
    assert back.count() == cust.count()
    assert set(back.columns) == set(cust.columns)


def test_orc_and_json_roundtrip(spark, sf_dir):
    import tempfile as tf

    work = tf.mkdtemp(prefix="fmt_")
    cust = retail_views.customers(spark, sf_dir)
    cust.write.mode("overwrite").orc(f"{work}/orc")
    assert readers.read_orc(spark, f"{work}/orc").count() == cust.count()
    cust.write.mode("overwrite").json(f"{work}/json")
    back = readers.read_json(spark, f"{work}/json", schema=cust.schema)
    assert back.count() == cust.count()
    assert back.schema == cust.schema


def test_silver_cleaning_semantics(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(id=1, created_at="2024-01-01 10:00:00", amount=5.0),
            Row(id=2, created_at="not-a-date", amount=None),
            Row(id=3, created_at=None, amount=2.5),
        ]
    )
    cleaned = silver.clean(df)
    rows = {r["id"]: r for r in cleaned.collect()}
    # errors='coerce' semantics: unparseable -> NULL (transform.py:35)
    assert rows[1]["created_at"] is not None
    assert rows[2]["created_at"] is None
    # numeric fillna(0) (transform.py:39-43)
    assert rows[2]["amount"] == 0.0
    assert rows[3]["amount"] == 2.5


def test_pick_date_column_heuristic(spark, sf_dir):
    st = retail_views.sale_transactions(spark, sf_dir)
    # first column containing date/created/time (load.py:141-147)
    assert silver.pick_date_column(st) == "order_date"
    assert silver.pick_date_column(st.drop("order_date")) is None


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Two tables bucketed on the same key must join with no Exchange
    on either side (the bucketing co-location contract)."""
    st = retail_views.sale_transactions(spark, sf_dir)
    spend = st.groupBy("customer_id").count()
    catalog.write_bucketed_table(st, "b_fact", "customer_id", buckets=4)
    catalog.write_bucketed_table(spend, "b_spend", "customer_id", buckets=4)
    # fixture tables are small enough to auto-broadcast, which bypasses
    # buckets entirely — disable it to exercise the big-table plan shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_fact").join(
            spark.table("b_spend"), "customer_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle either side
        assert joined.count() == st.count()
        # and the non-bucketed equivalent DOES shuffle
        unbucketed = st.join(spend, "customer_id")
        plan2 = unbucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_table_name_resolver():
    # reference extract_table_name_from_filename quirks (load.py:8-38)
    f = readers.table_name_from_filename
    assert f("/data/bronze/customers_20260813_110000.csv") == "customers"
    assert f("sale_transactions_20260813_110000.csv") == "sale_transactions"
    assert f("sales_managers_20260813.csv") == "sales_managers"
    assert f("sale_20260813.csv") == "sale_transactions"  # alias: sale->fact
    assert f("sales_20260813.csv") == "sales_managers"  # alias: sales->managers
    assert f("unknown_table.csv") is None


def test_jdbc_round_trip_via_derby(spark, sf_dir, tmp_path):
    """S1 LIVE: Spark bundles the Derby JDBC driver (Hive metastore
    dep), so the JDBC extract path is executable end-to-end — write a
    table over JDBC, read it back with read_jdbc_table, and verify the
    pushed row cap reaches the source (FETCH FIRST in Derby's
    dialect)."""
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "customers")
        .option("driver", drv)
        .mode("overwrite")
        .save()
    )
    back = readers.read_jdbc_table(spark, url, "customers", driver=drv)
    assert {r["c_custkey"] for r in back.collect()} == {
        r["c_custkey"] for r in src.collect()
    }
    capped = readers.read_jdbc_table(
        spark, url, "customers", limit=7, driver=drv
    )
    assert capped.count() == 7
    # the cap is in the PUSHED query text, not a post-hoc Spark limit
    assert (
        readers.jdbc_reader_options(url, "customers", 7)["query"]
        == "SELECT * FROM customers FETCH FIRST 7 ROWS ONLY"
    )


def test_jdbc_parallel_partitions_via_derby(spark, sf_dir, tmp_path):
    """S1 parallel extract LIVE: the range-partitioned JDBC read must
    produce >1 input partition (concurrent source queries) and the
    exact same row set as the single-connection read — Spark's bounds
    steer split points only, they never filter."""
    url = f"jdbc:derby:{tmp_path}/pdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "customers")
        .option("driver", drv)
        .mode("overwrite")
        .save()
    )
    keys = [r["c_custkey"] for r in src.collect()]
    # bounds deliberately EXCLUDE part of the key range: rows outside
    # must still arrive (bounds are split points, not filters)
    lo, hi = min(keys) + 10, max(keys) - 10
    par = readers.read_jdbc_table(
        spark, url, "customers",
        partition_column="c_custkey", lower_bound=lo, upper_bound=hi,
        num_partitions=4, driver=drv,
    )
    assert par.rdd.getNumPartitions() == 4
    single = readers.read_jdbc_table(spark, url, "customers", driver=drv)
    assert sorted(map(tuple, par.collect())) == sorted(
        map(tuple, single.collect())
    )
    with pytest.raises(ValueError, match="nondeterministic"):
        readers.read_jdbc_table(
            spark, url, "customers", limit=5,
            partition_column="c_custkey", lower_bound=lo, upper_bound=hi,
            num_partitions=4, driver=drv,
        )
    with pytest.raises(ValueError, match="num_partitions"):
        readers.read_jdbc_table(
            spark, url, "customers", partition_column="c_custkey",
            driver=drv,
        )


def test_jdbc_pushdown_sql_contract():
    # reference extract.py:45-48: SELECT * FROM public.<t> [LIMIT n],
    # with the LIMIT inside the source SQL (S1 pushdown) — testable
    # without a live database
    assert (
        readers.jdbc_extract_query("public.customers")
        == "SELECT * FROM public.customers"
    )
    assert (
        readers.jdbc_extract_query("public.sale_transactions", 10000)
        == "SELECT * FROM public.sale_transactions LIMIT 10000"
    )
    opts = readers.jdbc_reader_options(
        "jdbc:postgresql://db:5432/shopease",
        "public.customers",
        1000,
        user="etl",
        driver="org.postgresql.Driver",
    )
    assert opts == {
        "url": "jdbc:postgresql://db:5432/shopease",
        "query": "SELECT * FROM public.customers LIMIT 1000",
        "user": "etl",
        "driver": "org.postgresql.Driver",
    }


def test_bronze_snapshot_filename_roundtrip(spark, sf_dir, tmp_path):
    # the reference's extract names bronze files
    # {table}_{YYYYmmdd_HHMMSS}.csv (extract.py:64-66); write a bronze
    # CSV under that convention and resolve it back to its table
    cust = retail_views.customers(spark, sf_dir).limit(20)
    out = str(tmp_path / "bronze" / "sale_transactions_20260813_110000.csv")
    cust.write.option("header", True).csv(out)
    assert (
        readers.table_name_from_filename(out) == "sale_transactions"
    )
    back = readers.read_bronze_csv(spark, out)
    assert back.count() == 20


def test_execute_query_wrapper(spark, sf_dir):
    from retail_etl_pipeline_airflow_s3_athena_spark.plans import analytics

    analytics.register_gold_views(spark, sf_dir)
    rows = analytics.execute_query(
        spark, None, "SELECT COUNT(*) AS n FROM daily_sales_summary"
    )
    assert rows[0]["n"] > 0


def test_salted_join_equals_plain_join(spark, sf_dir):
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.skew import salted_join

    st = retail_views.sale_transactions(spark, sf_dir)
    cust = retail_views.customers(spark, sf_dir)
    plain = st.join(cust, "customer_id").count()
    salted = salted_join(st, cust, "customer_id", salt=4).count()
    assert plain == salted
    # left join keeps unmatched rows too
    plain_l = st.join(cust, "customer_id", "left").count()
    salted_l = salted_join(st, cust, "customer_id", salt=4, how="left").count()
    assert plain_l == salted_l


def test_quality_suite_full(spark, sf_dir):
    cust = retail_views.customers(spark, sf_dir)
    st = retail_views.sale_transactions(spark, sf_dir)
    assert quality.key_is_unique(cust, "customer_id")
    assert not quality.key_is_unique(st, "customer_id")  # fact FK repeats
    assert quality.column_not_null(st, "product_id")
    assert quality.column_is_timestamp(st, "order_date")
    assert not quality.column_is_timestamp(cust, "customer_name")
    assert quality.column_non_negative(st, "quantity")
    assert quality.cardinality_at_most(cust.limit(5), 10)
    assert not quality.cardinality_at_most(cust, 10)
    rep = quality.table_report(cust)
    assert rep["row_count"] == cust.count()
    assert rep["null_cells"] == 0
    assert quality.duplicate_row_count(cust) == 0
    dup = cust.limit(1).unionAll(cust.limit(1))
    assert quality.duplicate_row_count(dup) == 1


def test_driver_gate_ordering_is_explicit():
    """The driver's correctness gate reports only the first 50
    queries() entries; pinning the pair of names on either side of that
    boundary makes any insertion above it fail here instead of silently
    pushing an entry out of the gate."""
    import __spark_entry__ as e

    names = list(e.queries())
    assert names[49] == "sessionize_events"
    assert names[50] == "label_centroids"
    assert len(set(names)) == len(names)
    # every gated query has an oracle except the documented rows-only ones
    oracles = e.oracle_sql()
    rows_only = {"multimodal_pipeline"}
    missing = set(names) - set(oracles) - rows_only
    assert not missing, missing


def test_bench_times_every_query():
    """bench.py's standalone rows, its analytics rows and the four gold
    tables timed inside gold_materialize partition queries() exactly:
    every entry is timed once and bench times no phantom."""
    import __spark_entry__ as e
    import bench

    rows = bench.STANDALONE + bench.ANALYTICS + list(bench.GOLD_TABLES)
    assert sorted(rows) == sorted(e.queries())


def test_backfill_rewrites_only_target_partition(spark, sf_dir, tmp_path):
    from pyspark.sql import Row

    from retail_etl_pipeline_airflow_s3_athena_spark.sources import writers

    base = str(tmp_path)
    day1 = [Row(id=1, v="a"), Row(id=2, v="b")]
    day2 = [Row(id=3, v="c")]
    writers.write_silver(spark.createDataFrame(day1), base, "t", "20240101")
    writers.write_silver(spark.createDataFrame(day2), base, "t", "20240102")

    # backfill day 2 with corrected rows; day 1 must be untouched
    fixed = [Row(id=3, v="C"), Row(id=4, v="d")]
    writers.backfill_silver_partition(
        spark.createDataFrame(fixed), base, "t", "20240102", target_files=1
    )
    got = spark.read.parquet(f"{base}/t")
    d1 = {(r["id"], r["v"]) for r in got.filter("date = '20240101'").collect()}
    d2 = {(r["id"], r["v"]) for r in got.filter("date = '20240102'").collect()}
    assert d1 == {(1, "a"), (2, "b")}
    assert d2 == {(3, "C"), (4, "d")}
    # compaction knob: the rewritten day is exactly one data file
    import glob

    files = glob.glob(f"{base}/t/date=20240102/*.parquet")
    assert len(files) == 1
    # idempotence: running the same backfill again changes nothing
    writers.backfill_silver_partition(
        spark.createDataFrame(fixed), base, "t", "20240102", target_files=1
    )
    again = spark.read.parquet(f"{base}/t")
    assert again.count() == 4


def test_cache_ownership_sweep_no_leaks(spark):
    """Every cache-owning queries() entry frees ALL persisted state via
    release_cached — the contract bench.py and check_oracle.py rely on
    to keep storage memory from accruing across the 100+-query gate."""
    import __spark_entry__ as entry
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    sf_dir = "/root/testdata/sf0.001"
    qs = entry.queries()
    # operators that persist intermediates (every module family with an
    # attach_cached_deps site); sf0.001 keeps the sweep fast
    owners = [
        "near_dup_pairs",
        "incremental_near_dups",
        "near_dup_clusters",
        "dedup_corpus",
        "semantic_dedup",
        "pagerank_near_dups",
        "dup_triangles",
        "containment_pairs",
        "fuzzy_decontaminate",
        "embedding_near_dup_lsh",
        "ivf_topk",
        "scd2_customers",
        "simhash_near_dup",
        "tfidf_top_terms",
        "customer_value_tiles",
        "dsir_importance",
        "dsir_select",
        "dsir_stream_importance",
        # checkpoint-backed dep (release via the _CheckpointDep adapter)
        "bpe_doc_tokens",
        "bpe_encode_docs",
        "pq_codebooks",
        "pq_codes",
        "pq_topk",
        "ivf_pq_topk",
        "ivf_pq_residual_topk",
        "length_drift_chisq",
        "source_token_kl",
        # r8: persisted-store and persisted-index query paths
        "stored_near_dups",
        "store_ingest_loop",
        "store_compacted_dedup",
        "ann_index_topk",
        "ann_index_append_topk",
        "pq_sdc_near_dup",
    ]
    jsc = spark.sparkContext._jsc.sc()
    spark.catalog.clearCache()

    def persisted_ids() -> set[int]:
        ids, it = set(), jsc.getPersistentRDDs().keysIterator()
        while it.hasNext():
            ids.add(int(it.next()))
        return ids

    for name in owners:
        # Scope the assertion to RDDs REGISTERED DURING this owner's
        # run: the sweep once red-flagged near_dup_pairs in a run
        # overlapping a co-tenant Spark session (r10), and an
        # assertion over process-global persistent-RDD state can be
        # polluted by background cleanup timing it doesn't own.  The
        # blocking-unpersist contract stays strict — an RDD this
        # query persisted and failed to release still fails here.
        before = persisted_ids()
        df = qs[name](spark, sf_dir)
        df.collect()
        release_cached(df, blocking=True)
        leaked = persisted_ids() - before
        assert not leaked, f"{name} leaked persisted RDD id(s) {leaked}"


def test_all_queries_tolerate_empty_input(spark, tmp_path_factory):
    """Every queries() entry must run (possibly to an empty result) on
    EMPTY input tables — at 100 TB, empty partitions/days/batches are
    routine, and an operator that throws on them kills whole jobs."""
    import __spark_entry__ as entry
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    src = "/root/testdata/sf0.001"
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")
    failures = []

    def check(name, fn):
        try:
            df = fn(spark, d)
            df.collect()
            release_cached(df)
        except Exception as ex:  # noqa: BLE001 - collecting all failures
            failures.append(f"{name}: {str(ex).splitlines()[0][:90]}")

    from tests.conftest import run_query_sweep

    run_query_sweep(entry.queries().items(), check)
    spark.catalog.clearCache()
    assert not failures, failures


def test_all_queries_tolerate_null_rows(spark, tmp_path_factory):
    """NULL text / NULL embedding / NULL ts rows must not crash any
    query: text ops treat NULL as an empty token stream, vector ops
    drop NULL vectors, event ops key on non-null ids — dirty rows are
    a fact of life at ingest scale."""
    import __spark_entry__ as entry
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    src = "/root/testdata/sf0.001"
    d = str(tmp_path_factory.mktemp("null_sf"))
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if t == "documents":
            df = df.withColumn(
                "text",
                F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
                    F.col("text")
                ),
            )
        if t == "embeddings":
            df = df.withColumn(
                "embedding",
                F.when(F.col("vec_id") % 9 == 0, F.lit(None)).otherwise(
                    F.col("embedding")
                ),
            )
        if t == "events":
            df = df.withColumn(
                "ts",
                F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(
                    F.col("ts")
                ),
            )
        df.write.mode("overwrite").parquet(f"{d}/{t}.parquet")
    failures = []

    def check(name, fn):
        try:
            df = fn(spark, d)
            df.collect()
            release_cached(df)
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: {str(ex).splitlines()[0][:90]}")

    from tests.conftest import run_query_sweep

    run_query_sweep(entry.queries().items(), check)
    spark.catalog.clearCache()
    assert not failures, failures


def test_silver_schema_drift_across_partitions(spark, tmp_path):
    """Upstream adds a column on day 2: appends succeed, the merged
    reader surfaces the union schema with NULLs for pre-drift
    partitions, and the plain reader's silent column-drop hazard is
    what read_silver_merged exists to avoid."""
    from pyspark.sql import Row

    from retail_etl_pipeline_airflow_s3_athena_spark.sources import readers, writers

    base = str(tmp_path / "silver")
    d1 = spark.createDataFrame([Row(id=1, amount=10.0)])
    writers.write_silver(d1, base, "t", "20240101")
    d2 = spark.createDataFrame(
        [Row(id=2, amount=20.0, channel="web")]
    )
    writers.write_silver(d2, base, "t", "20240102")

    merged = readers.read_silver_merged(spark, base, "t")
    assert "channel" in merged.columns
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["channel"] is None          # pre-drift partition
    assert rows[2]["channel"] == "web"
    assert len(rows) == 2


def test_gated_bucketed_join_is_shuffle_free_on_key(spark, sf_dir):
    """The gate-checked bucketed query must actually exercise the
    bucketed zip: executed plan shows a SortMergeJoin with NO exchange
    on the join key (the only exchanges are the downstream groupBy /
    orderBy on c_mktsegment)."""
    import re

    from retail_etl_pipeline_airflow_s3_athena_spark.sources import catalog as cat

    df = cat.bucketed_segment_order_stats(
        spark,
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    key_exchanges = [
        l for l in plan.splitlines()
        if re.search(r"Exchange.*custkey", l)
    ]
    assert not key_exchanges, key_exchanges


def test_jsonl_shards_escape_hostile_text(spark):
    """The JSONL round-trip must survive text CSV would mangle:
    quotes, backslashes, newlines, tabs, unicode, emoji, and the JSON
    control range."""
    import tempfile

    from pyspark.sql import types as T

    from retail_etl_pipeline_airflow_s3_athena_spark.sources import readers, writers

    hostile = [
        (0, "a", 'he said "hi"' + chr(10) + "then left" + chr(9) + "\\end"),
        (1, "a", "unicode: café — \U0001f600 " + chr(1) + "ctl"),
        (2, "b", '{"not": "json"}'),
        (3, "b", ""),
    ]
    df = spark.createDataFrame(hostile, ["doc_id", "source", "text"])
    base = tempfile.mkdtemp(prefix="jsonl_t_")
    writers.write_jsonl_shards(df, base, "docs", shard_cols=["source"])
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    back = {
        r["doc_id"]: (r["source"], r["text"])
        for r in readers.read_jsonl(spark, f"{base}/docs", schema).collect()
    }
    for did, src, text in hostile:
        assert back[did] == (src, text)
    # r11: the gzip codec path round-trips the same hostile corpus,
    # and the shard files really are .json.gz gzip members
    import glob
    import gzip

    writers.write_jsonl_shards(
        df, base, "docs_gz", shard_cols=["source"], codec="gzip"
    )
    gz_files = glob.glob(f"{base}/docs_gz/source=*/part-*.json.gz")
    assert gz_files, "no .json.gz shard files written"
    with gzip.open(gz_files[0], "rb") as fh:
        assert fh.read(1) == b"{"  # a real gzip member holding JSONL
    back_gz = {
        r["doc_id"]: (r["source"], r["text"])
        for r in readers.read_jsonl(
            spark, f"{base}/docs_gz", schema
        ).collect()
    }
    for did, src, text in hostile:
        assert back_gz[did] == (src, text)
