"""What the three workloads share: the run context, the op recorder,
the set-up reps and the DuckDB answer checks."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import gen
from spans import Tracer

# Warm-up inputs come from their own seed and dirs, so nothing the
# warm-up computes can be reused by the timed pass.
WARMUP_SEED_OFFSET = 1_000_003
# Set-up reps per run: each rep founds the stores on fresh dirs.  More
# reps would push a full steadiness check (26 runs per gated workload)
# past its time budget.
SETUP_REPS = 2


@dataclass
class Context:
    spark: object
    root: str                 # temp root of this run (deleted at exit)
    seed: int
    seconds: int
    tracer: Tracer
    samples: dict = field(default_factory=dict)   # kind -> [ms]
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    layer_extra: dict = field(default_factory=dict)

    def fresh_dir(self, *parts: str) -> str:
        path = os.path.join(self.root, *parts)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path)
        return path

    @contextmanager
    def op(self, kind: str, timed: bool = True):
        """One client request: waits for its reply, records its latency
        under ``kind`` and counts it as attempted.  An exception inside
        fails the op and is recorded; the pass goes on."""
        self.tracer.op = f"{kind}#{self.attempted}"
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                yield
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            self.fail(f"{kind}: {type(exc).__name__}: {exc}")
            return
        finally:
            self.tracer.op = ""
        if timed:
            self.samples.setdefault(kind, []).append(
                (time.perf_counter() - t0) * 1000.0
            )

    def fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why[:300])

    def check(self, ok: bool, why: str) -> None:
        """Answer check after the pass: a wrong answer fails one op."""
        if not ok:
            self.fail(f"wrong answer: {why}")

    def add(self, name: str, value: float) -> None:
        self.layer_extra[name] = self.layer_extra.get(name, 0) + value


def median_setup(ctx: Context, found, reps: int = SETUP_REPS):
    """Set up ``reps`` times on fresh dirs and return (median seconds,
    state of the last rep).  ``found(dir)`` generates the run's inputs
    and founds the stores; the last rep's state feeds the timed pass.
    The warm-up runs first and pays the JVM's cold start, so every rep
    is warm."""
    times, state = [], None
    for r in range(reps):
        rep_dir = ctx.fresh_dir(f"setup{r}")
        t0 = time.perf_counter()
        state = found(rep_dir)
        times.append(time.perf_counter() - t0)
    ctx.layer_extra["setup_reps_s"] = times
    return statistics.median(times), state


# ---------------------------------------------------------------------------
# answer checks
# ---------------------------------------------------------------------------

def duck(src: str, fact_dirs: list[str] | None = None):
    """A DuckDB connection with the TPC-H-shaped views over ``src``;
    ``fact_dirs`` replaces orders/lineitem with the union of those
    slices."""
    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"):
        if fact_dirs is not None and t in ("orders", "lineitem"):
            files = ", ".join(f"'{d}/{t}.parquet'" for d in fact_dirs)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{files}])")
        else:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')"
            )
    return con


def row_hash(cols, rows) -> str:
    """The repo's canonical order-insensitive value hash."""
    from tools.check_oracle import _hash_rows

    return _hash_rows(list(cols), [tuple(r) for r in rows])


def oracle_hash(con, sql: str) -> tuple[int, list[str], str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), sorted(cols), row_hash(cols, rows)


def result_hash(cols, rows) -> tuple[int, list[str], str]:
    return len(rows), sorted(cols), row_hash(cols, rows)


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def count_files(path: str, suffix: str = ".parquet") -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(suffix))
    return n


def tree_bytes(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n


def check_generator(ctx: Context, inputs: gen.Inputs, sizes: gen.Sizes) -> None:
    """The same seed must give the same content: generate again in
    memory and compare hashes."""
    again = gen.content_hash(gen.build_tables(ctx.seed, sizes))
    ctx.check(again == inputs.content_hash,
              f"generator not deterministic: {again} != {inputs.content_hash}")
