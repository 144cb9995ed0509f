"""medallion_daily: the paper's DAG, one op per simulated day.

Each day a disjoint order-key slice of the fact rows lands as bronze
CSV, is read back with the column types a CSV really carries (the date
is text, so ``plans.silver.clean`` has to coerce it), is appended to
silver as a ``date=`` partition, and gold is recomputed over all silver
so far, checked by ``functions.quality``, registered in the catalog and
queried with the reference's four Athena queries.  Silver grows every
day, so costs that scale with history show up in later days.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

import gen
from core import (
    WARMUP_SEED_OFFSET, Context, check_generator, collect, count_files, duck,
    median_setup, oracle_hash, result_hash, tree_bytes,
)

DAY_S = 6.0          # the pass runs seconds/DAY_S days
MIN_DAYS = 2
ATHENA_QUERIES = [
    "daily_revenue", "top_performing_customers", "product_analysis",
    "revenue_by_category",
]
GOLD_TABLES = [
    "daily_sales_summary", "top_customers", "product_performance",
    "store_performance",
]
DIMS = ["customers", "products", "stores"]
# What the bronze CSV really holds: typed numbers, the date as text.
CSV_SCHEMA = T.StructType([
    T.StructField("transaction_id", T.LongType()),
    T.StructField("customer_id", T.LongType()),
    T.StructField("product_id", T.LongType()),
    T.StructField("store_id", T.LongType()),
    T.StructField("quantity", T.LongType()),
    T.StructField("unit_price", T.DoubleType()),
    T.StructField("order_date", T.StringType()),
])


def n_days(seconds: int) -> int:
    return max(MIN_DAYS, round(seconds / DAY_S))


class Medallion:
    def __init__(self, ctx: Context):
        from retail_etl_pipeline_airflow_s3_athena_spark.functions import quality
        from retail_etl_pipeline_airflow_s3_athena_spark.plans import (
            analytics, gold, retail_views, silver,
        )
        from retail_etl_pipeline_airflow_s3_athena_spark.sources import (
            catalog, readers, writers,
        )

        self.ctx = ctx
        self.spark = ctx.spark
        self.quality, self.analytics, self.gold = quality, analytics, gold
        self.views, self.silver = retail_views, silver
        self.catalog, self.readers, self.writers = catalog, readers, writers
        self.days = n_days(ctx.seconds)
        self.sizes = gen.Sizes(slices=self.days)
        self.last_answers: dict = {}

    # -- set-up ------------------------------------------------------------
    def found(self, base: str, seed: int, sizes: gen.Sizes, db: str) -> dict:
        """Generate inputs and land the dimension tables in silver."""
        sp = self.spark
        inputs = gen.write_inputs(seed, os.path.join(base, "in"), sizes)
        st = {"inputs": inputs, "db": db, "work": os.path.join(base, "work")}
        self.catalog.create_database(sp, db)
        for name in DIMS:
            df = self.silver.clean(getattr(self.views, name)(sp, inputs.src))
            self.writers.write_silver(df, f"{st['work']}/silver", name, "20240101")
        return st

    def warmup(self) -> None:
        """Found a warm-up-seed state on its own dirs and run one day."""
        ctx = self.ctx
        st = self.found(ctx.fresh_dir("warmup"), ctx.seed + WARMUP_SEED_OFFSET,
                        self.sizes, "bench_warmup")
        self.day(st, 0, record=False)

    def setup(self) -> float:
        s, self.state = median_setup(
            self.ctx,
            lambda d: self.found(d, self.ctx.seed, self.sizes,
                                 f"bench_{os.path.basename(d)}"),
        )
        return s

    # -- the pass ----------------------------------------------------------
    def day(self, st: dict, d: int, record: bool = True) -> None:
        ctx, sp, tr = self.ctx, self.spark, self.ctx.tracer
        inputs, work, db = st["inputs"], st["work"], st["db"]
        run_date = f"202402{d + 1:02d}"
        with ctx.op("write", timed=record):
            with tr.span("retail_views"):
                fact = self.views.sale_transactions(sp, inputs.slices[d])
            with tr.span("sources.writers"):
                bronze = self.writers.write_bronze_csv(
                    fact, f"{work}/bronze/{run_date}", "sale_transactions"
                )
            self._written(bronze, ".csv")
            with tr.span("sources.readers"):
                landed = self.readers.read_bronze_csv(sp, bronze, CSV_SCHEMA)
            with tr.span("plans.silver"):
                cleaned = self.silver.clean(landed)
            with tr.span("sources.writers"):
                path = self.writers.write_silver(
                    cleaned, f"{work}/silver", "sale_transactions", run_date
                )
            self._written(f"{path}/date={run_date}", ".parquet")
            with tr.span("sources.readers"):
                silver = {
                    name: self.readers.read_parquet_table(
                        sp, f"{work}/silver", name
                    ).drop("date")
                    for name in ["sale_transactions"] + DIMS
                }
            with tr.span("plans.gold"):
                s = silver["sale_transactions"]
                golds = {
                    "daily_sales_summary": self.gold.daily_sales_summary(s),
                    "top_customers": self.gold.top_customers(s, silver["customers"]),
                    "product_performance": self.gold.product_performance(
                        s, silver["products"]
                    ),
                    "store_performance": self.gold.store_performance(
                        s, silver["stores"]
                    ),
                }
            for name, df in golds.items():
                with tr.span("sources.writers"):
                    path = self.writers.write_gold(df, f"{work}/gold", name)
                self._written(path, ".parquet")
            with tr.span("sources.readers"):
                golds = {
                    name: self.readers.read_parquet_table(sp, f"{work}/gold", name)
                    for name in GOLD_TABLES
                }
            with tr.span("functions.quality"):
                report = self.quality.run_data_quality_checks(golds)
            if not report["all_passed"]:
                raise RuntimeError(f"quality checks failed on {run_date}")
            with tr.span("sources.catalog"):
                for name in GOLD_TABLES:
                    self.catalog.register_parquet_table(
                        sp, db, name, f"{work}/gold/{name}"
                    )
                # partitions are inferred from the date= layout: the
                # listing grows with every day of history
                self.catalog.register_parquet_table(
                    sp, db, "sale_transactions", f"{work}/silver/sale_transactions"
                )
        sp.catalog.setCurrentDatabase(db)
        for q in ATHENA_QUERIES:
            with ctx.op("read", timed=record):
                with tr.span("plans.analytics"):
                    self.last_answers[q] = collect(
                        sp.sql(self.analytics.ANALYTICS_SQL[q])
                    )

    def _written(self, path: str, suffix: str) -> None:
        if self.ctx.tracer.enabled:
            self.ctx.add("sources.writers.files", count_files(path, suffix))
            self.ctx.add("sources.writers.bytes", tree_bytes(path))

    def run_pass(self) -> None:
        for d in range(self.days):
            self.day(self.state, d)

    # -- answers -----------------------------------------------------------
    def check(self) -> None:
        ctx, st = self.ctx, self.state
        inputs = st["inputs"]
        check_generator(ctx, inputs, self.sizes)
        con = duck(inputs.src, inputs.slices[: self.days])
        w = self.views.with_retail_ctes
        for name in GOLD_TABLES:
            got = result_hash(*collect(
                self.readers.read_parquet_table(self.spark, f"{st['work']}/gold", name)
            ))
            want = oracle_hash(con, w(f"SELECT * FROM {name}",
                                      extra_ctes=self.analytics.GOLD_CTES))
            ctx.check(got == want, f"gold table {name}")
        for q in ATHENA_QUERIES:
            if q not in self.last_answers:
                continue   # its op already failed
            want = oracle_hash(con, self.analytics.oracle_for(q))
            ctx.check(result_hash(*self.last_answers[q]) == want,
                      f"last day's {q}")
        con.close()

    def describe(self) -> dict:
        return {"days": self.days, **self.state["inputs"].sizes}
