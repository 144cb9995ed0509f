"""r12 optimization guards: bounded-model materialization.

``functions.caching.materialize_model`` collapses an iterative
trainer's bounded model table (PQ codebooks, coarse centroids) into a
driver-local relation so downstream consumers stop re-evaluating the
training chain per reference.  Two things must hold forever:

1. the round-trip is EXACT (schema + binary64 values unchanged) —
   anything else would flip the oracle value hashes;
2. the consumer plans stay SHALLOW — before the fix ivf_pq_topk's
   physical plan carried 86 Exchange nodes of duplicated Lloyd
   subtree (plans/r12/ivf_pq_topk_before.txt); a regression re-nests
   the training chain and the Exchange count explodes again.
"""

from __future__ import annotations

import math
import struct
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (  # noqa: E402
    materialize_model,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators import pq as pq_ops  # noqa: E402
from retail_etl_pipeline_airflow_s3_athena_spark.sources import readers  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def test_materialize_model_roundtrips_bits_and_schema(spark):
    """Doubles (including non-representable decimals and signed
    zero), arrays and ints must round-trip bit-exactly with the
    identical schema — the oracle hash depends on it."""
    schema = T.StructType(
        [
            T.StructField("m", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("scv", T.ArrayType(T.DoubleType())),
            T.StructField("val", T.DoubleType()),
        ]
    )
    src = spark.createDataFrame(
        [
            (0, 1, [0.1, 1.0 / 3.0, -0.0, 2.0**-1074], math.pi),
            (1, 2, [], float("inf")),
            (2, 3, None, None),
        ],
        schema,
    )
    out = materialize_model(src.select("*"))
    assert [f.name for f in out.schema.fields] == [
        f.name for f in src.schema.fields
    ]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        f.dataType.simpleString() for f in src.schema.fields
    ]
    got = sorted(out.collect(), key=lambda r: r["m"])
    want = sorted(src.collect(), key=lambda r: r["m"])
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["m"] == w["m"] and g["code"] == w["code"]
        assert (g["scv"] is None) == (w["scv"] is None)
        if g["scv"] is not None:
            assert [_bits(x) for x in g["scv"]] == [
                _bits(x) for x in w["scv"]
            ]
        if w["val"] is not None:
            assert _bits(g["val"]) == _bits(w["val"])


def test_materialize_model_empty(spark):
    schema = T.StructType([T.StructField("x", T.LongType())])
    out = materialize_model(
        spark.createDataFrame([], schema).filter(F.col("x") > 0)
    )
    assert out.schema == schema
    assert out.count() == 0


def _exchange_count(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange")


def test_ivf_pq_plan_stays_shallow(spark):
    """The Lloyd chain must be materialized per round, not lazily
    nested: before the r12 optimization this plan carried 86 Exchange
    nodes (duplicated training subtrees); after, single digits.  The
    bound has headroom for planner drift but fails long before the
    multiplicative re-nesting returns."""
    emb = readers.read_embeddings(spark, SF_DIR)
    out = pq_ops.ivf_pq_topk(emb)
    n = _exchange_count(out)
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    release_cached(out)
    assert n <= 16, f"ivf_pq_topk plan carries {n} Exchanges (was 86 pre-fix)"


def test_pq_train_books_are_local(spark):
    """_train's returned books/means must be driver-local relations
    (no scan, no exchange) — consumers broadcast them freely."""
    emb = readers.read_embeddings(spark, SF_DIR)
    sub, books, means, _ = pq_ops._train(emb, pq_ops.PQ_ROUNDS)
    try:
        for model in (books, means):
            plan = model._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan and "Scan" not in plan.replace(
                "LocalTableScan", ""
            ), plan
    finally:
        sub.unpersist()
