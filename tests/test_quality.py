"""The one-action quality rollup (functions/quality.py): its Spark job
budget, and its equivalence with the one-action-per-check helpers it
replaced; plus the task-less receipt rule of functions/jobs.py."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions import quality
from retail_etl_pipeline_airflow_s3_athena_spark.functions.jobs import observed_count
from tests.conftest import jobs_submitted, jvm_table

GOLD_SCHEMAS = {
    "daily_sales_summary": "order_date date, revenue double, total_orders long, total_items long",
    "top_customers": "customer_id long, customer_name string, total_spent double",
    "product_performance": "product_id long, times_sold long, total_quantity long",
    "store_performance": "store_id long, total_revenue double, total_transactions long",
}
SILVER_SCHEMA = "order_id long, customer_id long, product_id long, amount double, note string"


def _golds(spark, **overrides) -> dict[str, DataFrame]:
    """Four small gold-shaped tables that pass every rule; ``overrides``
    replaces a table's rows."""
    import datetime as dt

    d = dt.date(2024, 1, 1)
    rows = {
        "daily_sales_summary": [(d, 10.5, 2, 3), (d + dt.timedelta(1), 0.0, 1, 1)],
        "top_customers": [(i, f"c{i}", 100.0 - i) for i in range(10)],
        "product_performance": [(1, 4, 9), (2, 1, 1)],
        "store_performance": [(1, 50.0, 3), (2, 7.25, 1)],
    }
    rows.update(overrides)
    return {
        name: jvm_table(spark, rows[name], GOLD_SCHEMAS[name]) for name in GOLD_SCHEMAS
    }


def _parent_report(gold_tables, silver_tables=None):
    """Reference: the rollup as the per-check helpers computed it, one
    Spark action per check (rows+nulls aggregate; count minus
    dropDuplicates count; min() >= 0; limit(max+1).count() <= max)."""

    def table_report(df):
        aggs = [F.count(F.lit(1))] + [
            F.sum(F.col(c).isNull().cast("long")) for c in df.columns
        ]
        row = df.agg(*aggs).first()
        nulls = sum(row[i + 1] or 0 for i in range(len(df.columns)))
        return {"row_count": row[0], "column_count": len(df.columns), "null_cells": int(nulls)}

    def non_negative(df, column):
        if column not in df.columns:
            return True
        m = df.agg(F.min(column)).first()[0]
        return m is None or m >= 0

    report = {"tables": {}, "all_passed": True}
    for name, df in (silver_tables or {}).items():
        rep = table_report(df)
        rep["duplicate_rows"] = df.count() - df.dropDuplicates().count()
        rep["date_partitioned"] = quality.is_date_partitioned(df)
        rep["passed"] = rep["row_count"] > 0
        report["tables"][f"silver.{name}"] = rep
        report["all_passed"] &= rep["passed"]
    for name, df in gold_tables.items():
        rep = table_report(df)
        rules = quality.GOLD_RULES.get(name, {})
        checks = [rep["row_count"] > 0]
        checks += [non_negative(df, c) for c in rules.get("non_negative", [])]
        if "max_rows" in rules:
            checks.append(df.limit(rules["max_rows"] + 1).count() <= rules["max_rows"])
        rep["passed"] = all(checks)
        report["tables"][f"gold.{name}"] = rep
        report["all_passed"] &= rep["passed"]
    report["all_passed"] = bool(report["all_passed"])
    return report


def _as_parquet(spark, tmp_path, tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    out = {}
    for name, df in tables.items():
        df.write.parquet(f"{tmp_path}/{name}")
        out[name] = spark.read.parquet(f"{tmp_path}/{name}")
    return out


def test_quality_rollup_job_budget(spark, tmp_path):
    """One run_data_quality_checks call is one action: under AQE a
    shuffle-stage job and a result job over the four gold tables, and
    one more shuffle stage for a silver table's duplicate pre-aggregate
    (26 jobs per call when each check was its own action)."""
    golds = _as_parquet(spark, tmp_path / "gold", _golds(spark))
    silver = _as_parquet(
        spark,
        tmp_path / "silver",
        {"sale_transactions": jvm_table(spark, [(1, 2, 3, 4.0, "x")] * 3, SILVER_SCHEMA)},
    )
    quality.run_data_quality_checks(golds)  # warm: first-use planning
    n_gold = jobs_submitted(spark, lambda: quality.run_data_quality_checks(golds))
    assert n_gold <= 2, n_gold
    n_both = jobs_submitted(
        spark, lambda: quality.run_data_quality_checks(golds, silver_tables=silver)
    )
    assert n_both <= 3, n_both


@pytest.mark.parametrize(
    "case",
    ["passing", "negative", "null_metric", "eleven_top", "empty_gold", "null_cells"],
)
def test_fused_rollup_matches_per_check_helpers(spark, case):
    golds = {
        "passing": lambda: _golds(spark),
        # a negative in a non_negative column fails its table
        "negative": lambda: _golds(
            spark, daily_sales_summary=[(None, 3.0, 1, 1), (None, -0.5, 1, 1)]
        ),
        # a NULL metric is not negative (min() ignored it)
        "null_metric": lambda: _golds(
            spark, top_customers=[(1, "a", None), (2, "b", 5.0)]
        ),
        # 11 rows break top_customers' 10-row cap
        "eleven_top": lambda: _golds(
            spark, top_customers=[(i, f"c{i}", float(i)) for i in range(11)]
        ),
        # an empty table yields no group: row_count 0, failed
        "empty_gold": lambda: _golds(spark, product_performance=[]),
        # null cells summed across several columns and rows
        "null_cells": lambda: _golds(
            spark,
            store_performance=[(None, None, 1), (2, None, None), (3, 1.0, 2)],
        ),
    }[case]()
    got = quality.run_data_quality_checks(golds)
    assert got == _parent_report(golds)
    expect_pass = case in ("passing", "null_metric", "null_cells")
    assert got["all_passed"] is expect_pass
    if case == "empty_gold":
        assert got["tables"]["gold.product_performance"]["row_count"] == 0
    if case == "null_cells":
        assert got["tables"]["gold.store_performance"]["null_cells"] == 4


def test_silver_duplicates_with_nulls_match_drop_duplicates(spark):
    rows = [
        (1, 2, 3, 4.0, None),
        (1, 2, 3, 4.0, None),
        (1, 2, 3, 4.0, None),
        (None, None, 3, float("nan"), "x"),
        (None, None, 3, float("nan"), "x"),
        (5, None, 6, 1.0, "y"),
    ]
    silver = {"sale_transactions": jvm_table(spark, rows, SILVER_SCHEMA)}
    golds = _golds(spark)
    got = quality.run_data_quality_checks(golds, silver_tables=silver)
    assert got == _parent_report(golds, silver)
    df = silver["sale_transactions"]
    rep = got["tables"]["silver.sale_transactions"]
    assert rep["duplicate_rows"] == df.count() - df.dropDuplicates().count() == 3
    assert rep["null_cells"] == 3 * 1 + 2 * 2 + 1
    assert quality.duplicate_row_count(df) == 3
    assert not quality.key_is_unique(df, "order_id")  # NULL and repeated ids
    assert quality.key_is_unique(df.where("order_id = 5"), "customer_id") is False
    assert quality.key_is_unique(df.where("order_id = 5"), "product_id")


def test_single_check_helpers_agree_with_rollup(spark):
    golds = _golds(spark, daily_sales_summary=[(None, -1.0, 1, 1)])
    dss = golds["daily_sales_summary"]
    assert not quality.column_non_negative(dss, "revenue")
    assert quality.column_non_negative(dss, "total_orders")
    assert quality.column_non_negative(dss, "no_such_column")
    assert quality.table_report(dss) == {"row_count": 1, "column_count": 4, "null_cells": 1}
    assert quality.cardinality_at_most(golds["top_customers"], 10)
    assert not quality.cardinality_at_most(golds["top_customers"], 9)
    assert quality.table_report(golds["top_customers"].limit(0))["row_count"] == 0
    assert quality.run_data_quality_checks({}) == {"tables": {}, "all_passed": True}


def test_observed_count_task_less_job_is_zero(spark, tmp_path):
    """A job over a 0-partition source runs no task, so Spark hands the
    observation an empty metrics row; that can only mean 0 rows."""
    path = f"{tmp_path}/empty"
    spark.range(3).withColumn("cell", F.col("id") % 2).limit(0).write.partitionBy(
        "cell"
    ).parquet(path)
    src = spark.read.schema("id long, cell long").parquet(path)
    assert src.rdd.getNumPartitions() == 0
    obs = Observation("task_less_receipt")
    (
        src.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(F.col("cell"))
        .sortWithinPartitions("id")
        .write.partitionBy("cell")
        .parquet(f"{tmp_path}/out")
    )
    with pytest.raises(Py4JJavaError):  # the premise: PySpark cannot read it
        obs.get
    assert observed_count(obs) == 0


def test_observed_count_raises_on_wrong_key_or_unrun_observation(spark):
    obs = Observation("ran_receipt")
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert observed_count(obs) == 3
    with pytest.raises(KeyError):
        observed_count(obs, "n_rows")
    with pytest.raises(AssertionError):  # PySpark: NO_OBSERVE_BEFORE_GET
        observed_count(Observation("never_observed"))
