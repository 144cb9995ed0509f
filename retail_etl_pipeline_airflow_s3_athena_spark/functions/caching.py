"""Cache-ownership contract for operators that persist shared
intermediates.

Several operators (``dedup.near_dup_pairs``, ``dedup.lsh_candidate_pairs``,
``dedup.blocked_jaccard_pairs``) persist an intermediate table that
feeds multiple branches of the returned (lazy) plan — the persist is
what makes the shared table compute once instead of once per branch
when the caller finally runs an action.  Unpersisting before returning
would defeat that, so ownership transfers to the caller instead:

- the operator tags the returned DataFrame with its cached
  dependencies via :func:`attach_cached_deps`;
- the caller, after materializing the result (collect/write/count),
  calls :func:`release_cached` to free the executor storage memory.

Long-lived sessions (services, notebooks) MUST release; batch jobs
that exit immediately may skip it (the JVM teardown frees the blocks).
``release_cached`` is a no-op on DataFrames with no tagged deps, so
callers can apply it unconditionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_spark_graft_cached_deps"


def _sql_scalar_literal(v, dt) -> str:
    """Render one scalar as a Spark SQL literal whose parsed value is
    BIT-IDENTICAL to ``v``.  Doubles use Python's shortest round-trip
    repr with the ``D`` suffix (Double.parseDouble is correctly
    rounded, so the round-trip is exact); NaN/Infinity need the CAST
    spelling.  Raises TypeError on types the renderer doesn't cover —
    the caller falls back to the RDD-backed path."""
    import math

    from pyspark.sql import types as T

    if v is None:
        return "NULL"
    if isinstance(dt, T.BooleanType):
        return "true" if v else "false"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return str(int(v))
    if isinstance(dt, T.DoubleType):
        x = float(v)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            sign = "-" if x < 0 else ""
            return f"CAST('{sign}Infinity' AS DOUBLE)"
        return repr(x) + "D"
    if isinstance(dt, T.StringType):
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    raise TypeError(f"unsupported literal type {dt}")


def _sql_literal(v, dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        if v is None:
            return "NULL"
        inner = ",".join(
            _sql_scalar_literal(x, dt.elementType) for x in v
        )
        return f"array({inner})"
    return _sql_scalar_literal(v, dt)


def local_relation(spark, rows, schema) -> DataFrame:
    """Rebuild collected rows as a TRUE LocalRelation DataFrame.

    ``spark.createDataFrame(list, schema)`` produces a LogicalRDD of
    pickled rows parallelized over defaultParallelism slices: every
    downstream reference then runs a fleet of Python-worker tasks just
    to re-read a 40-row model table (measured r12: 0.54 s per
    broadcast-join action vs 0.21 s for the identical data as a
    LocalRelation).  A SQL inline table (``VALUES``) resolves to a
    LocalRelation the driver can broadcast without running any job.
    Literal rendering is bit-exact (see ``_sql_scalar_literal``);
    types outside the covered set fall back to the RDD path."""
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        casts = ", ".join(
            f"CAST(col{i + 1} AS {f.dataType.simpleString()}) AS `{f.name}`"
            for i, f in enumerate(schema.fields)
        )
        tuples = ",".join(
            "(" + ",".join(
                _sql_literal(v, f.dataType)
                for v, f in zip(row, schema.fields)
            ) + ")"
            for row in rows
        )
        out = spark.sql(f"SELECT {casts} FROM VALUES {tuples}")
    except TypeError:
        return spark.createDataFrame(rows, schema)
    if out.schema != schema:
        # reconcile nullable-data-into-declared-nullable differences
        # (stays a LocalRelation — the projection folds); .to() keeps
        # a NARROWER (non-null) inferred nullability, which is safe
        out = out.to(schema)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in schema.fields
    ] and [f.dataType.simpleString() for f in out.schema.fields] == [
        f.dataType.simpleString() for f in schema.fields
    ], (out.schema, schema)
    return out


def materialize_model(df: DataFrame) -> DataFrame:
    """Evaluate a BOUNDED, model-sized DataFrame once and rebuild it as
    a driver-LOCAL relation with the identical schema.

    Iterative trainers (the PQ/IVF Lloyd rounds, coarse-centroid
    tables) otherwise hand consumers a lazily-chained plan that (a)
    re-evaluates the whole training chain once per downstream
    reference and (b) grows the Catalyst tree multiplicatively per
    round — measured at r12: ivf_pq_topk's physical plan carried 86
    Exchange nodes, pq_topk 63, almost all of them reprints of the
    same Lloyd-round subtree.  Collecting the K·M·dim model rows
    (hundreds — corpus-INDEPENDENT, so this is scale-safe) and
    re-emitting them as a LocalRelation is the classifier module's
    train-then-broadcast discipline applied to every bounded model.
    Exact: collect round-trips binary64 bits unchanged (see
    ``_sql_scalar_literal``), and every consumer is order-insensitive
    (joins/aggregates with pinned tie-breaks).
    """
    spark = df.sparkSession
    return local_relation(spark, df.collect(), df.schema)


def attach_cached_deps(result: DataFrame, *deps: DataFrame) -> DataFrame:
    """Tag ``result`` with persisted upstream DataFrames the caller
    must release once the result has been materialized."""
    existing = getattr(result, _ATTR, ())
    setattr(result, _ATTR, tuple(existing) + tuple(deps))
    return result


def carried_deps(df: DataFrame) -> tuple[DataFrame, ...]:
    """The persisted deps tagged on ``df`` (empty tuple if none).  Use
    to re-attach ownership when a transformation produces a NEW
    DataFrame — select/withColumnRenamed return fresh Python objects
    that do not carry the tag, so a rename after ``attach_cached_deps``
    would silently leak the persist."""
    return tuple(getattr(df, _ATTR, ()))


def release_cached(result: DataFrame, blocking: bool = False) -> None:
    """Unpersist every cached dependency tagged on ``result``.  Call
    after the result has been materialized; the plan stays valid (a
    later re-run simply recomputes the intermediate)."""
    for dep in getattr(result, _ATTR, ()):
        dep.unpersist(blocking)
    if hasattr(result, _ATTR):
        setattr(result, _ATTR, ())


def release_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage behind a ``localCheckpoint``'d
    DataFrame.  ``DataFrame.unpersist`` only talks to the SQL cache
    manager and no-ops on checkpoints; the blocks belong to the
    internal RDD held by the plan's single LogicalRDD node.  Best
    effort: on any interop failure the ContextCleaner reclaims the
    blocks when the RDD is garbage-collected."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class _CheckpointDep:
    """Adapter giving a checkpointed frame the ``unpersist(blocking)``
    shape :func:`release_cached` expects of a dep."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        release_checkpoint(self._df)
