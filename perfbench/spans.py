"""Spans, Spark-counter attribution and the small statistics the
benchmark reports.

A span is one call into a layer, timed from the benchmark's own call
site: name (the layer), start, end, parent span and op id.  Spans live
in memory and are written when the run ends.

Spark work is attributed to spans by JOB-ID RANGE: the last job id
submitted before the span opens and after it closes bound the jobs the
span submitted.  Job groups would be simpler but do not work here: jobs
that ``functions.jobs.run_jobs`` submits from pool threads do not
inherit the caller's group.  The counters are read right after each span
closes, because the status store keeps only about 1000 jobs and stages.

Lazy layers (``plans.silver``, ``plans.gold``, ``retail_views``) only
build plans: their span covers plan construction, and the execution of
that plan is charged to the span of the action that runs it (a writer,
``functions.quality``, a collect).
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = [
    "session",
    "sources.writers",
    "sources.readers",
    "sources.catalog",
    "plans.silver",
    "plans.gold",
    "plans.analytics",
    "plans.relational",
    "plans.goldstore",
    "functions.quality",
    "operators.annindex",
]
LAYER_FIELDS = [
    "calls", "s", "self_s", "jobs", "stages", "tasks", "task_s",
    "shuffle_bytes", "driver_s",
]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least 10 of ``n`` samples beyond
    it, or None when even p75 has fewer than 10 beyond it."""
    for p in TAIL_PERCENTILES:
        if n * (1000 - round(p * 10)) >= 10 * 1000:   # exact, in tenths of a percent
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# intervals
# ---------------------------------------------------------------------------

def merge_intervals(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def covered(iv: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``iv``."""
    clipped = [(max(a, lo), min(b, hi)) for a, b in iv]
    return sum(b - a for a, b in merge_intervals(clipped))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job_lo: int = 0          # first job id the span may own
    job_hi: int = -1         # last job id the span may own
    jobs: dict = field(default_factory=dict)   # job id -> (sub, done) seconds
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0

    @property
    def s(self) -> float:
        return self.end - self.start


def _child_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return kids


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids = _child_intervals(spans)
    return [
        sp.s - covered(kids.get(i, []), sp.start, sp.end)
        for i, sp in enumerate(spans)
    ]


def self_job_ids(spans: list[Span]) -> list[set[int]]:
    """Job ids in each span's range that no child span's range claims."""
    claimed: dict[int, set[int]] = {}
    for sp in spans:
        if sp.parent is not None:
            claimed.setdefault(sp.parent, set()).update(
                range(sp.job_lo, sp.job_hi + 1)
            )
    return [
        set(range(sp.job_lo, sp.job_hi + 1)) - claimed.get(i, set())
        for i, sp in enumerate(spans)
    ]


def driver_times(spans: list[Span]) -> list[float]:
    """Self time of each span during which none of its jobs ran."""
    kids = _child_intervals(spans)
    out = []
    for i, sp in enumerate(spans):
        busy = list(kids.get(i, [])) + list(sp.jobs.values())
        out.append(sp.s - covered(busy, sp.start, sp.end))
    return out


def layer_table(spans: list[Span], layers: list[str] = LAYERS) -> dict:
    """Per-layer totals over all spans named after a layer."""
    table = {
        name: {f: 0.0 if f.endswith("_s") or f == "s" else 0 for f in LAYER_FIELDS}
        for name in layers
    }
    own = self_job_ids(spans)
    selfs = self_times(spans)
    drivers = driver_times(spans)
    for i, sp in enumerate(spans):
        row = table.get(sp.name)
        if row is None:
            continue
        row["calls"] += 1
        row["s"] += sp.s
        row["self_s"] += selfs[i]
        row["driver_s"] += drivers[i]
        row["jobs"] += len(own[i] & set(sp.jobs))
        row["stages"] += sp.stages
        row["tasks"] += sp.tasks
        row["task_s"] += sp.task_s
        row["shuffle_bytes"] += sp.shuffle_bytes
    return table


class SparkCounters:
    """Reads job ids, stage counters and JVM times through py4j.  Works
    with ``spark.ui.enabled=false``: the status tracker and the app
    status store are kept without the UI."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.dag = self.sc._jsc.sc().dagScheduler()
        self.jvm = spark._jvm
        self.seen_stages: set[int] = set()
        self.seen_jobs: dict[int, tuple[float, float]] = {}

    def last_job_id(self) -> int:
        """The id of the last job submitted, from the DAG scheduler's job
        counter: it counts jobs of every thread and every job group, and
        costs one py4j call (listing the status tracker's job ids costs
        one per retained job and misses jobs that carry a group)."""
        return int(self.dag.nextJobId()) - 1

    def read(self, sp: Span) -> None:
        """Fill ``sp`` with the jobs and stages of its job-id range.  A
        stage counts once, in the span it was submitted in: a later job
        that lists it again only reuses its shuffle output."""
        lo_ms = sp.start * 1000.0 - 1.0
        for jid in range(sp.job_lo, sp.job_hi + 1):
            if jid in self.seen_jobs:     # read already, for a child span
                sp.jobs[jid] = self.seen_jobs[jid]
                continue
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            job = self.store.job(jid)
            sub = job.submissionTime()
            done = job.completionTime()
            t0 = sub.get().getTime() / 1000.0 if sub.isDefined() else sp.start
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else sp.end
            sp.jobs[jid] = self.seen_jobs[jid] = (t0, t1)
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — py4j NoSuchElement: never ran
                    continue
                when = st.submissionTime()
                if not when.isDefined() or when.get().getTime() < lo_ms:
                    continue
                self.seen_stages.add(sid)
                sp.stages += 1
                sp.tasks += int(st.numCompleteTasks())
                sp.task_s += int(st.executorRunTime()) / 1000.0
                sp.shuffle_bytes += int(st.shuffleWriteBytes())

    def jvm_times(self) -> tuple[float, float]:
        """(JIT compile seconds, GC seconds) since JVM start."""
        mf = self.jvm.java.lang.management.ManagementFactory
        jit = mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return jit, gc / 1000.0

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())


class Tracer:
    """Records spans when enabled; a disabled tracer's span() does
    nothing, so untraced runs pay only a generator per call."""

    def __init__(self, counters: SparkCounters | None = None):
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""

    @property
    def enabled(self) -> bool:
        return self.counters is not None

    @contextmanager
    def span(self, name: str):
        if self.counters is None:
            yield None
            return
        sp = Span(
            name=name,
            op=self.op,
            start=time.time(),
            parent=self._stack[-1] if self._stack else None,
            job_lo=self.counters.last_job_id() + 1,
        )
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()
            sp.job_hi = self.counters.last_job_id()
            self.counters.read(sp)

    def to_records(self) -> list[dict]:
        return [
            {
                "name": sp.name, "op": sp.op, "start": sp.start, "end": sp.end,
                "parent": sp.parent, "jobs": sorted(sp.jobs),
                "stages": sp.stages, "tasks": sp.tasks, "task_s": sp.task_s,
                "shuffle_bytes": sp.shuffle_bytes,
            }
            for sp in self.spans
        ]
