"""Concurrent submission of INDEPENDENT Spark actions (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially.  A lifecycle operator that persists three index
tables pays three sequential job latencies (~0.2-0.5 s fixed overhead
each at small scale; straggler tails at cluster scale) unless the
writes are submitted together — later jobs' tasks back-fill executors
freed by the earlier jobs' tails.

Only use for actions with NO data dependency on each other.  Job
descriptions are thread-local, so each submitted action labels itself
correctly in the UI.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JJavaError


def observed_count(obs, key: str = "n") -> int:
    """The observed row count of a finished action.  A job over an
    empty 0-partition source (e.g. a repartitioned ``limit(0)`` parquet
    staging table) runs no task, so Spark completes its observation with
    an EMPTY metrics row, which PySpark fails to convert; that row can
    only mean no row passed the observed node, so it reads as 0.
    Everything else raises: a key the observation does not define, an
    observation never attached to a plan, a failure converting a
    non-empty row.  (``Observation.get`` blocks until the observed
    plan's first action ends, so call this after the action.)"""
    try:
        metrics = obs.get
    except Py4JJavaError:
        if obs._jo.getRow().length() == 0:
            return 0
        raise
    return int(metrics[key])


def run_jobs(*thunks: Callable[[], object]) -> list[object]:
    """Run the given zero-arg actions concurrently; return their
    results in argument order.  Exceptions propagate (the first one
    raised by result order).  With one thunk, runs inline — no pool.
    """
    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
