"""Data-quality checks (reference scripts/data_quality.py).

The reference's validation surface: per-layer structural checks
(existence, row/column counts, duplicates, nulls — Q1-Q3), constraint
checks (key uniqueness, not-null, dtype — Q4/Q5/Q7), layout checks
(date-partitioning, Q6), and business rules (non-negative metrics,
top-k cardinality cap — Q8/Q9), rolled up into a pass/warn dict per
table (Q10, data_quality.py:122-155).

Implementation notes:
- Every counting check is read off ONE per-row shape, built by
  ``_rollup_rows``: ``rows`` (the row's weight), ``nulls`` (null cells,
  times the weight), ``dups`` (weight - 1) and ``negs`` (1 when any
  checked ``non_negative`` column is < 0).  A plain table weighs 1 per
  row; a table checked for duplicates is first grouped by all of its
  columns, so each distinct row weighs its multiplicity — ``groupBy``
  uses the same NULL/NaN equality as ``dropDuplicates``, so the summed
  ``dups`` is exactly ``count() - dropDuplicates().count()``.
- ``run_data_quality_checks`` tags each table's rows, unions them and
  runs one ``groupBy(tag)`` sum: ONE Spark action for the whole rollup,
  silver and gold together.  The checks are small and driver-bound, so
  the action count, not the data, sets their cost.  A table with no
  rows yields no group and reads back as all zeros.
- The single-check helpers run the same rollup over one table (one
  action each), so each check has one implementation.
- Everything returns plain Python values; callers assemble the report.
"""

from __future__ import annotations

from functools import reduce
from operator import or_
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The per-row shape every counting check is read from.
_SHAPE = ("rows", "nulls", "dups", "negs")
_WEIGHT = "__quality_weight"


def _rollup_rows(
    df: DataFrame, non_negative: list[str] | tuple = (), weighted: bool = False
) -> DataFrame:
    """``df`` as rows of ``_SHAPE``.  ``non_negative`` columns
    missing from ``df`` are not checked; neither NULL nor NaN is
    negative (Spark orders NaN above every number).  With
    ``weighted``, one row per distinct full row, weighted by its count
    (this adds a shuffle, and is what makes ``dups`` meaningful)."""
    columns = df.columns
    if weighted:
        df = df.groupBy(*columns).agg(F.count(F.lit(1)).alias(_WEIGHT))
        weight = F.col(_WEIGHT)
    else:
        weight = F.lit(1).cast("long")
    row_nulls = sum(
        (F.col(c).isNull().cast("long") for c in columns), F.lit(0).cast("long")
    )
    checked = [F.col(c) < 0 for c in non_negative if c in columns]
    negs = F.when(reduce(or_, checked), 1).otherwise(0) if checked else F.lit(0)
    return df.select(
        weight.alias("rows"),
        (weight * row_nulls).alias("nulls"),
        (weight - 1).alias("dups"),
        negs.cast("long").alias("negs"),
    )


def _rollup(tables: dict[str, DataFrame]) -> dict[str, tuple[int, int, int, int]]:
    """Sum ``_SHAPE`` per tag over ``_rollup_rows`` outputs, in ONE
    action; a tag whose table had no rows gets all zeros."""
    if not tables:
        return {}
    tagged = reduce(
        DataFrame.unionAll,
        [
            rows.select(F.lit(tag).alias("tag"), *_SHAPE)
            for tag, rows in tables.items()
        ],
    )
    sums = tagged.groupBy("tag").agg(*[F.sum(c).alias(c) for c in _SHAPE])
    got = {r["tag"]: tuple(int(r[c]) for c in _SHAPE) for r in sums.collect()}
    return {tag: got.get(tag, (0, 0, 0, 0)) for tag in tables}


def _rollup_one(rows: DataFrame) -> tuple[int, int, int, int]:
    return _rollup({"t": rows})["t"]


def table_report(df: DataFrame) -> dict[str, Any]:
    """Q1+Q3: row count, column count, total null cells — one action."""
    rows, nulls, _, _ = _rollup_one(_rollup_rows(df))
    return {"row_count": rows, "column_count": len(df.columns), "null_cells": nulls}


def duplicate_row_count(df: DataFrame) -> int:
    """Q2: number of surplus full-row duplicates (reference
    data_quality.py:22,58 ``df.duplicated().any()``, as a count)."""
    return _rollup_one(_rollup_rows(df, weighted=True))[2]


def key_is_unique(df: DataFrame, key: str) -> bool:
    """Q4: key uniqueness (reference data_quality.py:29): no NULL key
    and no key value twice."""
    _, nulls, dups, _ = _rollup_one(_rollup_rows(df.select(key), weighted=True))
    return nulls == 0 and dups == 0


def column_not_null(df: DataFrame, column: str) -> bool:
    """Q5: not-null constraint (reference data_quality.py:31)."""
    return df.filter(F.col(column).isNull()).count() == 0


def is_date_partitioned(df: DataFrame) -> bool:
    """Q6: layer files live under Hive ``date=`` partitions
    (reference data_quality.py:61)."""
    return any("date=" in f for f in df.inputFiles()) or "date" in df.columns


def column_is_timestamp(df: DataFrame, column: str) -> bool:
    """Q7: dtype assertion (reference data_quality.py:65-68)."""
    if column not in df.columns:
        return False
    return isinstance(
        df.schema[column].dataType,
        (T.TimestampType, T.TimestampNTZType, T.DateType),
    )


def column_non_negative(df: DataFrame, column: str) -> bool:
    """Q8: business rule — metric >= 0 (reference data_quality.py:99-111)."""
    if column not in df.columns:
        return True
    return _rollup_one(_rollup_rows(df, non_negative=[column]))[3] == 0


def cardinality_at_most(df: DataFrame, limit: int) -> bool:
    """Q9: cardinality cap, e.g. top_customers <= 10 rows
    (reference data_quality.py:107)."""
    return _rollup_one(_rollup_rows(df.limit(limit + 1)))[0] <= limit


# Gold business rules mirrored from reference data_quality.py:99-111.
GOLD_RULES: dict[str, dict[str, Any]] = {
    "daily_sales_summary": {"non_negative": ["revenue", "total_orders", "total_items"]},
    "top_customers": {"non_negative": ["total_spent"], "max_rows": 10},
    "product_performance": {"non_negative": ["times_sold", "total_quantity"]},
    "store_performance": {"non_negative": ["total_revenue", "total_transactions"]},
}


def run_data_quality_checks(
    gold_tables: dict[str, DataFrame],
    silver_tables: dict[str, DataFrame] | None = None,
) -> dict[str, Any]:
    """Q10: the pass/warn rollup per table (reference
    run_data_quality_checks, data_quality.py:122-155), in one action."""
    silver_tables = silver_tables or {}
    rows = {
        f"silver.{name}": _rollup_rows(df, weighted=True)
        for name, df in silver_tables.items()
    }
    for name, df in gold_tables.items():
        non_negative = GOLD_RULES.get(name, {}).get("non_negative", [])
        rows[f"gold.{name}"] = _rollup_rows(df, non_negative)
    sums = _rollup(rows)

    report: dict[str, Any] = {"tables": {}, "all_passed": True}
    for name, df in silver_tables.items():
        n, nulls, dups, _ = sums[f"silver.{name}"]
        report["tables"][f"silver.{name}"] = {
            "row_count": n,
            "column_count": len(df.columns),
            "null_cells": nulls,
            "duplicate_rows": dups,
            "date_partitioned": is_date_partitioned(df),
            "passed": n > 0,
        }
    for name, df in gold_tables.items():
        n, nulls, _, negs = sums[f"gold.{name}"]
        max_rows = GOLD_RULES.get(name, {}).get("max_rows", n)
        report["tables"][f"gold.{name}"] = {
            "row_count": n,
            "column_count": len(df.columns),
            "null_cells": nulls,
            "passed": n > 0 and negs == 0 and n <= max_rows,
        }
    report["all_passed"] = all(t["passed"] for t in report["tables"].values())
    return report


def table_profile(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Long-form per-column statistics — the DataFrame upgrade of the
    reference's Glue-crawler metadata (glue_registry.py infers only
    names/types; real catalogs also publish per-column stats, which is
    what query planners prune and users eyeball first).

    Output: (column, n_rows, n_nulls, n_distinct, min_value, max_value)
    with min/max rendered as strings so one long-form result covers
    heterogeneous column types.

    Plan: ONE aggregate pass computes every column's null count, exact
    distinct count, and min/max (the distincts share the single
    expand); the wide 1-row result is then unpivoted driver-free with
    stack().  At extreme scale swap count_distinct for the HLL sketch
    (``functions.sketches``) — the plan shape (one pass, no joins) is
    the point."""
    cols = columns or df.columns
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{i}"),
            F.count_distinct(F.col(c)).alias(f"nd_{i}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{i}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{i}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{i}, nd_{i}, mn_{i}, mx_{i}" for i, c in enumerate(cols)
    )
    return wide.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(column, n_nulls, n_distinct, min_value, max_value)"
        ),
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")


def oracle_table_profile_sql(
    table: str, columns: list[str]
) -> str:
    selects = "\n        UNION ALL\n".join(
        f"""        SELECT '{c}' AS column,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_value,
               CAST(MAX({c}) AS VARCHAR) AS max_value
        FROM {table}"""
        for c in columns
    )
    return f"\n{selects}\n"
