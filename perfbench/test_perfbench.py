"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

import numpy as np
import pyarrow.parquet as pq
import pytest

import gen
from spans import (
    Span, covered, driver_times, layer_table, percentile, self_job_ids,
    self_times, tail_percentile,
)
from run import _cpu_delta, _descendants, _wait_ended
from steadiness import spread_rows

SMALL = gen.Sizes(orders=300, customers=40, suppliers=5, parts=50,
                  slices=3, vectors=80, vector_batches=4)


# -- the percentile rule -----------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n * (1000 - round(want * 10)) >= 10_000


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for p in (0, 25, 50, 90, 100):
        assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


# -- spans: self time, job ranges, driver time --------------------------------

def _spans():
    root = Span("op.write", "w#0", 0.0, 10.0, None, job_lo=0, job_hi=9)
    a = Span("sources.writers", "w#0", 1.0, 3.0, 0, job_lo=2, job_hi=4)
    b = Span("plans.gold", "w#0", 2.0, 5.0, 0, job_lo=5, job_hi=4)   # lazy: no jobs
    c = Span("sources.writers", "w#0", 7.0, 8.0, 0, job_lo=5, job_hi=5)
    a.jobs = {2: (1.0, 1.5), 3: (1.5, 2.0), 4: (2.5, 2.9)}
    c.jobs = {5: (7.2, 7.8)}
    root.jobs = {**a.jobs, **c.jobs, 0: (0.1, 0.6), 6: (9.0, 9.5)}
    return [root, a, b, c]


def test_self_time_subtracts_the_union_of_children():
    s = _spans()
    # children cover [1, 5] and [7, 8]: 5 of the root's 10 seconds
    assert self_times(s) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8), (9, 20)], 0, 10) == pytest.approx(6.0)


def test_job_range_attribution_gives_each_job_to_the_innermost_span():
    own = self_job_ids(_spans())
    assert own[0] == {0, 1, 6, 7, 8, 9}
    assert own[1] == {2, 3, 4}
    assert own[2] == set()
    assert own[3] == {5}


def test_driver_time_is_self_time_with_no_job_running():
    d = driver_times(_spans())
    # root self intervals [0,1], [5,7], [8,10] minus its jobs [0.1,0.6], [9,9.5]
    assert d[0] == pytest.approx(5.0 - 0.5 - 0.5)
    # writer a: [1,3] minus jobs [1,2] and [2.5,2.9]
    assert d[1] == pytest.approx(2.0 - 1.0 - 0.4)
    assert d[2] == pytest.approx(3.0)


def test_layer_table_sums_spans_of_a_layer():
    t = layer_table(_spans(), ["sources.writers", "plans.gold"])
    w = t["sources.writers"]
    assert w["calls"] == 2
    assert w["s"] == pytest.approx(3.0)
    assert w["jobs"] == 4
    assert t["plans.gold"]["jobs"] == 0
    assert t["plans.gold"]["driver_s"] == pytest.approx(3.0)


# -- the generator -------------------------------------------------------------

def test_same_seed_same_content_hash():
    a = gen.content_hash(gen.build_tables(7, SMALL))
    b = gen.content_hash(gen.build_tables(7, SMALL))
    c = gen.content_hash(gen.build_tables(8, SMALL))
    assert a == b
    assert a != c


def test_written_inputs_repeat_and_slices_keep_referential_integrity(tmp_path):
    one = gen.write_inputs(3, str(tmp_path / "a"), SMALL)
    two = gen.write_inputs(3, str(tmp_path / "b"), SMALL)
    assert one.content_hash == two.content_hash
    assert one.sizes == two.sizes
    seen: set[int] = set()
    total = 0
    for d in one.slices:
        orders = set(pq.read_table(os.path.join(d, "orders.parquet"))
                     .column("o_orderkey").to_pylist())
        lines = pq.read_table(os.path.join(d, "lineitem.parquet"))
        assert set(lines.column("l_orderkey").to_pylist()) <= orders
        assert not orders & seen
        seen |= orders
        total += lines.num_rows
    assert seen == set(range(SMALL.orders))
    assert total == one.sizes["lineitem"]


def test_slices_are_equal_sized_and_seeded():
    s = gen.order_slices(1, 100, 4)
    assert np.bincount(s).tolist() == [25, 25, 25, 25]
    assert not np.array_equal(s, gen.order_slices(2, 100, 4))


def test_embedding_split_is_disjoint_and_complete():
    found, batches = gen.embedding_split(5, 80, 4)
    assert len(found) == 60
    ids = np.concatenate([found] + batches)
    assert sorted(ids.tolist()) == list(range(80))
    assert {len(b) for b in batches} == {5}


def test_op_mix_keeps_the_multiset_and_shuffles_by_seed():
    counts = {"read": 10, "scan": 3, "write": 2}
    a, b = gen.op_mix(1, counts), gen.op_mix(2, counts)
    assert sorted(a) == sorted(b)
    assert a != b
    assert a == gen.op_mix(1, counts)


# -- cpu_s --------------------------------------------------------------------

def test_cpu_delta_drops_compiler_threads_also_ended_ones():
    # the process total keeps the time of threads that ended in the
    # pass.  Compiler thread 7 used 2.0 s; thread 8 used 0.5 s before it
    # ended (its last value seen is kept); thread 9 started and used 0.5 s.
    jit0 = {7: 4.0, 8: 1.0}
    last_seen = {7: 6.0, 8: 1.5, 9: 0.5}
    assert _cpu_delta(10.0, 20.0, jit0, last_seen) == pytest.approx(7.0)


# -- stopping every process a run started ----------------------------------------

def test_wait_ended_follows_grandchildren_until_they_end():
    sh = subprocess.Popen(["sh", "-c", "sleep 30 & wait"])
    deadline = time.time() + 10
    while not _descendants(sh.pid) and time.time() < deadline:
        time.sleep(0.05)
    procs = {sh.pid: _descendants(os.getpid())[sh.pid], **_descendants(sh.pid)}
    assert len(procs) == 2
    assert _wait_ended(procs, 0.2) == procs       # both still run
    for pid in procs:
        os.kill(pid, signal.SIGKILL)
    assert _wait_ended(procs, 5.0) == {}
    assert sh.pid not in _descendants(os.getpid())  # reaped, not a zombie


# -- the steadiness report -----------------------------------------------------

def test_spread_rows_report_quartiles_and_the_gap_between_sets():
    first = [10.0, 11.0, 12.0, 13.0, 14.0]
    second = [x * 1.1 for x in first]
    rows = spread_rows({"w": {"m": first}}, {"w": {"m": second}})
    (row,) = rows
    assert row["median_a"] == pytest.approx(12.0)
    assert row["gap"] == pytest.approx(0.1)
    assert row["spread_a"] == pytest.approx((13.5 - 10.5) / 12.0)
