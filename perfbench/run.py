"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload medallion_daily --seed 1 \
        --seconds 20 --trace 0

Runs from the root of a checkout of the repo.  It generates the
workload's inputs from ``--seed``, starts one Spark session through the
package's ``get_spark`` at a fixed slot count, sets up, warms up on
separate inputs, runs a timed pass of a fixed amount of work sized by
``--seconds``, checks every answer, and prints the metrics.  The last
line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones.

Everything the run writes (inputs, stores, Spark local dirs, warehouse,
metastore) goes under ``.perfbench_work/`` in the checkout, which the run
deletes before it exits.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "retail_etl_pipeline_airflow_s3_athena_spark"
SLOTS = 2            # Spark slots: below nproc, leaving cores for JIT, GC and Python
WORK_DIR = ".perfbench_work"

WORKLOADS = ["medallion_daily", "gold_serving", "ann_lifecycle"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--spans", default=None,
                   help="with --trace 1, also write every span as JSON lines here")
    return p.parse_args(argv)


def _stat(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name: state,
    ppid, ... (field 3 onwards of proc(5))."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _proc_cpu_s(path: str) -> float:
    """utime + stime from a /proc stat file."""
    fields = _stat(path)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _compiler_cpu_s(pid: int) -> dict[int, float]:
    """CPU time of each live JIT compiler thread of a process."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" in f.read():
                    out[int(tid)] = _proc_cpu_s(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:      # the thread ended between list and read
            continue
    return out


class JvmCpu(threading.Thread):
    """The JVM's CPU time over the timed pass, less that of its JIT
    compiler threads: their work is warm-up left over from earlier phases
    of the run, and it spreads more from run to run than the pass's own
    work (``jvm.jit_s`` reports it).

    The process total comes from /proc/<pid>/stat, which keeps the time
    of threads that have ended.  HotSpot ends idle compiler threads, so
    this thread samples them while the pass runs and keeps the last value
    seen of each."""

    def __init__(self, pid: int, every_s: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.done = threading.Event()
        self.total0 = _proc_cpu_s(f"/proc/{pid}/stat")
        self.jit0 = _compiler_cpu_s(pid)
        self.jit = dict(self.jit0)

    def run(self) -> None:
        while not self.done.wait(self.every_s):
            self.jit.update(_compiler_cpu_s(self.pid))

    def stop(self) -> float:
        self.done.set()
        self.join()
        self.jit.update(_compiler_cpu_s(self.pid))
        return _cpu_delta(self.total0, _proc_cpu_s(f"/proc/{self.pid}/stat"),
                          self.jit0, self.jit)


def _cpu_delta(total0: float, total1: float,
               jit0: dict[int, float], jit1: dict[int, float]) -> float:
    """Process CPU between two totals, less what each compiler thread
    used between its value at the start (0 if it started later) and its
    last value seen."""
    return total1 - total0 - sum(v - jit0.get(tid, 0.0) for tid, v in jit1.items())


def _descendants(pid: int) -> dict[int, str]:
    """Every live descendant of a process, as pid -> start time (to tell
    a pid that was reused apart)."""
    parent, start = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                fields = _stat(f"/proc/{name}/stat")
            except OSError:            # the process ended between list and read
                continue
            parent[int(name)], start[int(name)] = int(fields[1]), fields[19]
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        for child, pp in parent.items():
            if pp == p and child not in out:
                out[child] = start[child]
                todo.append(child)
    return out


def _alive(pid: int, start: str) -> bool:
    """The process is there, the same one, and not a zombie."""
    try:
        fields = _stat(f"/proc/{pid}/stat")
    except OSError:
        return False
    return fields[19] == start and fields[0] not in ("Z", "X")


def _wait_ended(procs: dict[int, str], timeout_s: float) -> dict[int, str]:
    """Wait up to ``timeout_s`` for the processes to end, reaping any
    that are children of this one; return those still running."""
    deadline = time.time() + timeout_s
    while True:
        for p in procs:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:  # not (or no longer) a child of this one
                pass
        left = {p: st for p, st in procs.items() if _alive(p, st)}
        if not left or time.time() > deadline:
            return left
        time.sleep(0.05)


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants, so that
    ``stop_spark`` can reap them rather than leave them to init: the
    launcher's subshell, a child of the JVM, otherwise outlives it as a
    zombie."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_spark(timeout_s: float = 30.0) -> None:
    """Stop Spark, then its JVM, and wait until every process the run
    started has ended.  ``SparkSession.stop()`` leaves the JVM running: it
    exits only once it sees its stdin close, which otherwise happens after
    Python has exited.  A JVM still running after ``timeout_s`` is
    killed, and so is any other process 5 s after the JVM has ended.
    Safe to call when no session was started, or only half started, and
    more than once."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)   # already on the way out
    procs = _descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        procs.update(_descendants(os.getpid()))
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()          # the JVM's cue to exit
            try:
                jvm.wait(timeout_s)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = SparkContext._jvm = None
        # Python workers and helpers the JVM started end with it
        for p in _wait_ended(procs, 5.0 if jvm is not None else 0.0):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_ended(procs, 5.0)


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _make_workload(name, ctx):
    if name == "medallion_daily":
        from medallion import Medallion
        return Medallion(ctx)
    if name == "gold_serving":
        from serving import GoldServing
        return GoldServing(ctx)
    from annlife import AnnLifecycle
    return AnnLifecycle(ctx)


def _p50(samples: dict, kind: str) -> float:
    xs = samples.get(kind) or []
    return statistics.median(xs) if xs else float("nan")


def run(args, work: str) -> tuple[dict, list[str]]:
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "spark-warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    from core import Context
    from spans import (
        LAYER_FIELDS, LAYERS, SparkCounters, Span, Tracer, covered,
        layer_table, percentile, self_times, tail_percentile,
    )

    get_spark = __import__(PACKAGE, fromlist=["get_spark"]).get_spark
    t0 = time.time()
    spark = get_spark("perfbench")
    session_span = Span(name="session", op="", start=t0, end=time.time())
    spark.sparkContext.setLogLevel("ERROR")
    lines: list[str] = []
    counters = SparkCounters(spark)
    tracer = Tracer(None)
    ctx = Context(spark=spark, root=work, seed=args.seed,
                  seconds=args.seconds, tracer=tracer)
    wl = _make_workload(args.workload, ctx)
    t_w = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t_w
    setup_s = (session_span.end - T_START) + wl.setup()
    # gold_serving warms up on copies of what its set-up founded
    warmup_s += ctx.layer_extra.pop("late_warmup_s", 0.0)
    if ctx.failed:
        raise RuntimeError(f"warm-up failed: {ctx.failures}")
    ctx.attempted = 0             # the warm-up's ops are not the pass's
    if args.trace:
        tracer.counters = counters

    jvm_pid = counters.jvm_pid()
    load0 = _loadavg()
    jit0, gc0 = counters.jvm_times()
    jvm_cpu, py0 = JvmCpu(jvm_pid), sum(os.times()[:2])
    jvm_cpu.start()
    p0 = time.time()
    wl.run_pass()
    p1 = time.time()
    jvm_cpu_s, py1 = jvm_cpu.stop(), sum(os.times()[:2])
    jit1, gc1 = counters.jvm_times()
    load1 = _loadavg()
    tracer.counters = None
    pass_s = p1 - p0
    wl.check()

    s = ctx.samples
    # Gated: setup_s and cpu_s.  The wall-time numbers below spread by
    # 0.25-0.5 (quartile distance over median) across seeds when the
    # shared reference host is busy, more than any bound allows
    # (perfbench/README.md); they are reported, and per layer with
    # --trace 1, but not gated.
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (jvm_cpu_s + py1 - py0, "s"),
    }
    wall = {
        "pass_s": (pass_s, "s"),
        "write_p50_ms": (_p50(s, "write"), "ms"),
        "read_p50_ms": (_p50(s, "read"), "ms"),
    }
    counts = {k: len(v) for k, v in sorted(s.items())}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "samples": counts,
        "inputs": wl.describe(),
        "setup_reps_s": ctx.layer_extra.get("setup_reps_s"),
        "session_s": session_span.s, "warmup_s": warmup_s,
        "host": {
            "nproc": len(os.sched_getaffinity(0)), "slots": SLOTS,
            "loadavg_start": load0, "loadavg_end": load1,
            "jvm_jit_s": jit1 - jit0, "jvm_gc_s": gc1 - gc0,
        },
        "failures": ctx.failures[:20],
        "wall": {k: v for k, (v, _) in wall.items()},
    }
    for kind, xs in sorted(s.items()):
        p = tail_percentile(len(xs))
        detail.setdefault("latency_ms", {})[kind] = {
            "n": len(xs), "p50": statistics.median(xs),
            **({f"p{p:g}": percentile(xs, p)} if p else {}),
        }
    lines.append(f"# {args.workload} seed={args.seed} inputs={json.dumps(wl.describe())}")
    for name, (v, unit) in {**e2e, **wall}.items():
        lines.append(f"# {name:>14} {v:12.4f} {unit}")
    lines.append(f"# samples {counts}  attempted={ctx.attempted} failed={ctx.failed}")

    if not args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        spans = tracer.spans
        table = layer_table(spans, LAYERS + ["retail_views"])
        table["session"].update(calls=1, s=session_span.s, self_s=session_span.s,
                                driver_s=session_span.s)
        layer_spans = [sp for sp in spans if not sp.name.startswith("op.")]
        gap = pass_s - covered([(sp.start, sp.end) for sp in layer_spans], p0, p1)
        task_s = sum(sp.task_s for sp in spans)
        scan = s.get("scan") or []
        ann = s.get("ann") or []
        reads = s.get("read") or []
        writes = s.get("write") or []
        tail = tail_percentile(len(reads))
        extra = {
            "sources.writers.files": ctx.layer_extra.get("sources.writers.files", 0),
            "sources.writers.bytes": ctx.layer_extra.get("sources.writers.bytes", 0),
            "plans.goldstore.files": ctx.layer_extra.get("plans.goldstore.files", 0),
            "operators.annindex.codes_files":
                ctx.layer_extra.get("operators.annindex.codes_files", 0),
            "operators.annindex.rebuilds":
                ctx.layer_extra.get("operators.annindex.rebuilds", 0),
            "jvm.gc_s": gc1 - gc0,
            "jvm.jit_s": jit1 - jit0,
            "spark.util": task_s / (pass_s * SLOTS),
            "warmup_s": warmup_s,
            "trace.pass_s": pass_s,
            "trace.gap_s": gap,
            "op.write_p50_ms": statistics.median(writes) if writes else 0.0,
            "op.read_p50_ms": statistics.median(reads) if reads else 0.0,
            "op.read_tail_ms": percentile(reads, tail) if tail else 0.0,
            "op.scan_p50_ms": statistics.median(scan) if scan else 0.0,
            "op.ann_p50_ms": statistics.median(ann) if ann else 0.0,
        }
        units = {"calls": "count", "s": "s", "self_s": "s", "jobs": "count",
                 "stages": "count", "tasks": "count", "task_s": "s",
                 "shuffle_bytes": "bytes", "driver_s": "s"}
        metrics = {}
        for layer in LAYERS:
            for f in LAYER_FIELDS:
                metrics[f"{layer}.{f}"] = {"value": table[layer][f], "unit": units[f]}
        extra_units = {"sources.writers.bytes": "bytes", "spark.util": "ratio"}
        for k, v in extra.items():
            unit = extra_units.get(k) or (
                "ms" if k.endswith("_ms") else "s" if k.endswith("_s") else "count"
            )
            metrics[k] = {"value": v, "unit": unit}
        lines += _layer_lines(table, pass_s, gap, spans, self_times(spans))
        if args.spans:
            with open(args.spans, "w") as f:
                for rec in [dict(name="session", start=session_span.start,
                                 end=session_span.end)] + tracer.to_records():
                    f.write(json.dumps(rec) + "\n")
        detail["trace"] = extra
    lines.append(json.dumps({"detail": detail}))
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    return result, lines


def _layer_lines(table, pass_s, gap, spans, selfs) -> list[str]:
    out = ["# per-layer (traced pass; lazy layers plans.silver, plans.gold and "
           "retail_views are timed at plan build only - their execution is "
           "charged to the action that runs it)",
           f"# {'layer':<20}{'calls':>6}{'s':>9}{'self_s':>9}{'driver_s':>9}"
           f"{'jobs':>6}{'stages':>7}{'tasks':>7}{'task_s':>8}{'shuffleB':>10}"]
    layer_self = 0.0
    for name, r in table.items():
        if name != "session":
            layer_self += r["self_s"]
        out.append(
            f"# {name:<20}{r['calls']:>6}{r['s']:>9.3f}{r['self_s']:>9.3f}"
            f"{r['driver_s']:>9.3f}{r['jobs']:>6}{r['stages']:>7}{r['tasks']:>7}"
            f"{r['task_s']:>8.2f}{r['shuffle_bytes']:>10}"
        )
    op_self = sum(t for sp, t in zip(spans, selfs) if sp.name.startswith("op."))
    out.append(
        f"# pass_s {pass_s:.3f} = layer self {layer_self:.3f} + untraced gaps "
        f"{gap:.3f} (of which inside ops {op_self:.3f})"
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    become_subreaper()
    # a terminated run still stops Spark and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    os.chdir(work)    # derby.log / metastore_db land in the temp root
    try:
        result, lines = run(args, work)
    except Exception:  # noqa: BLE001 — report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        stop_spark()     # before the temp root goes: the JVM's exit hooks clean it
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, WORK_DIR))
        except OSError:
            pass
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
