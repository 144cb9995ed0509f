"""Capture .explain("formatted") for declared queries to files.

Usage: python tools/capture_plans.py <out_dir> <suffix> [sf_dir] <query ...>

Writes <out_dir>/<query>_<suffix>.txt for each query.  Gate entries
with side effects (index writes, store founds) run those side effects
eagerly while building the returned DataFrame; the captured plan is
the final served query's plan — exactly what the optimization round's
plan-diff evidence needs.

Expression ids (``#123``), exchange plan ids (``plan_id=45``), lambda
variable names (``x_12``, numbered per session), the random suffix of
temp-dir paths and the UUID in written part-file names differ from run
to run; they are masked (``#N``, ``plan_id=N``, ``x_N``,
``<prefix>XXXXXXXX``, ``<uuid>``) so a before and an after dump of the
same plan diff clean.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from retail_etl_pipeline_airflow_s3_athena_spark import get_spark  # noqa: E402
from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (  # noqa: E402
    release_cached,
)


_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\blambda ([xyz])_\d+"), r"lambda \1_N"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
    # tempfile.mkdtemp(prefix=...) names: the prefix, then 8 random chars
    (
        re.compile(
            re.escape(tempfile.gettempdir())
            + r"/([A-Za-z0-9_]*?_)[a-z0-9_]{8}(?=[/\],\s]|$)"
        ),
        tempfile.gettempdir() + r"/\1XXXXXXXX",
    ),
)


def mask_plan(plan: str) -> str:
    """``plan`` with its run-specific ids and temp-dir names masked."""
    for pattern, repl in _MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", rest
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"SKIP {name}: not a declared query")
            continue
        df = fn(spark, sf_dir)
        plan = mask_plan(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        release_cached(df)
        print(f"WROTE {path} ({plan.count('Exchange')} Exchange lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
