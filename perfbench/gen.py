"""Seeded input generator for the benchmark.

One seed produces a TPC-H-shaped source directory with the table names,
column names, types and value domains of the repo's test fixtures
(region, nation, customer, supplier, part, orders, lineitem,
embeddings), plus the splits the workloads need:

- ``slices``: the fact rows cut into disjoint order-key slices.  An
  order and all of its line items land in the same slice, so every slice
  keeps referential integrity and is itself a valid source dir
  (``lineitem.parquet`` + ``orders.parquet``).  medallion_daily lands
  one slice per simulated day; gold_serving founds its gold store on
  slice 0 and ingests the others.
- the embedding split: a founding 3/4 of the corpus and the rest as
  disjoint id batches for ann_lifecycle.

Everything is built in memory with numpy from ``np.random.default_rng``
and hashed before it is written, so the same seed always gives the same
``content_hash`` (the benchmark checks this by generating twice).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["red", "blue", "green", "small", "large", "steel"]
PART_NOUNS = ["widget", "bolt", "ring", "gear", "panel", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
EMB_LABELS = 10

_EPOCH = dt.datetime(1970, 1, 1)
_ORDER_START = dt.datetime(1995, 1, 1)
_ORDER_DAYS = 2404   # 1995-01-01 .. 2001-08-01, the fixtures' order range
_SHIP_START = dt.datetime(1995, 1, 2)
_SHIP_DAYS = 2498    # 1995-01-02 .. 2001-11-04


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated input set."""

    orders: int = 15000
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    slices: int = 8
    vectors: int = 2000
    vector_batches: int = 5


def _days_us(rng: np.random.Generator, start: dt.datetime, days: int, n: int):
    base = int((start - _EPOCH).total_seconds()) * 1_000_000
    return base + rng.integers(0, days, n).astype(np.int64) * 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _table(cols: dict) -> pa.Table:
    arrays = {}
    for name, (values, typ) in cols.items():
        arrays[name] = pa.array(values, type=typ)
    return pa.table(arrays)


def build_tables(seed: int, sizes: Sizes = Sizes()) -> dict[str, pa.Table]:
    """All source tables for one seed, as in-memory Arrow tables."""
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p, n_o = sizes.customers, sizes.suppliers, sizes.parts, sizes.orders
    t: dict[str, pa.Table] = {}
    t["region"] = _table({
        "r_regionkey": (np.arange(5, dtype=np.int32), pa.int32()),
        "r_name": (REGIONS, pa.string()),
    })
    t["nation"] = _table({
        "n_nationkey": (np.arange(25, dtype=np.int32), pa.int32()),
        "n_name": ([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": (np.arange(25, dtype=np.int32) % 5, pa.int32()),
    })
    t["customer"] = _table({
        "c_custkey": (np.arange(n_c, dtype=np.int64), pa.int64()),
        "c_name": ([f"Customer#{i:09d}" for i in range(n_c)], pa.string()),
        "c_nationkey": (rng.integers(0, 25, n_c).astype(np.int32), pa.int32()),
        "c_acctbal": (_money(rng, -999.99, 9999.99, n_c), pa.float64()),
        "c_mktsegment": (
            [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n_c)], pa.string()
        ),
    })
    t["supplier"] = _table({
        "s_suppkey": (np.arange(n_s, dtype=np.int64), pa.int64()),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n_s)], pa.string()),
        "s_nationkey": (rng.integers(0, 25, n_s).astype(np.int32), pa.int32()),
        "s_acctbal": (_money(rng, -999.99, 9999.99, n_s), pa.float64()),
    })
    w = rng.integers(0, len(PART_WORDS), n_p)
    nn = rng.integers(0, len(PART_NOUNS), n_p)
    t["part"] = _table({
        "p_partkey": (np.arange(n_p, dtype=np.int64), pa.int64()),
        "p_name": (
            [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in zip(w, nn)], pa.string()
        ),
        "p_brand": (
            [f"Brand#{i}" for i in rng.integers(1, 26, n_p)], pa.string()
        ),
        "p_type": (
            [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_p)],
            pa.string(),
        ),
        "p_size": (rng.integers(1, 51, n_p).astype(np.int32), pa.int32()),
        "p_retailprice": (
            (90000 + np.arange(n_p) % 1000) / 100.0, pa.float64()
        ),
    })
    status = np.array(["F", "O", "P"])
    t["orders"] = _table({
        "o_orderkey": (np.arange(n_o, dtype=np.int64), pa.int64()),
        "o_custkey": (rng.integers(0, n_c, n_o).astype(np.int64), pa.int64()),
        "o_orderstatus": (status[rng.integers(0, 3, n_o)].tolist(), pa.string()),
        "o_totalprice": (_money(rng, 1000.0, 500000.0, n_o), pa.float64()),
        "o_orderdate": (
            _days_us(rng, _ORDER_START, _ORDER_DAYS, n_o), pa.timestamp("us")
        ),
        "o_orderpriority": (
            [PRIORITIES[i] for i in rng.integers(0, 5, n_o)], pa.string()
        ),
    })
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    okey = np.repeat(np.arange(n_o, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineno = (np.arange(n_l) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["F", "O"])
    t["lineitem"] = _table({
        "l_orderkey": (okey, pa.int64()),
        "l_partkey": (rng.integers(0, n_p, n_l).astype(np.int64), pa.int64()),
        "l_suppkey": (rng.integers(0, n_s, n_l).astype(np.int64), pa.int64()),
        "l_linenumber": (lineno, pa.int32()),
        "l_quantity": (qty, pa.float64()),
        "l_extendedprice": (
            np.round(qty * _money(rng, 18.0, 2100.0, n_l), 2), pa.float64()
        ),
        "l_discount": (rng.integers(0, 11, n_l) / 100.0, pa.float64()),
        "l_tax": (rng.integers(0, 9, n_l) / 100.0, pa.float64()),
        "l_returnflag": (flags[rng.integers(0, 3, n_l)].tolist(), pa.string()),
        "l_linestatus": (lstat[rng.integers(0, 2, n_l)].tolist(), pa.string()),
        "l_shipdate": (
            _days_us(rng, _SHIP_START, _SHIP_DAYS, n_l), pa.timestamp("us")
        ),
    })
    emb = rng.standard_normal((sizes.vectors, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(sizes.vectors, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(
            rng.integers(0, EMB_LABELS, sizes.vectors).astype(np.int32)
        ),
    })
    return t


def order_slices(seed: int, n_orders: int, n_slices: int) -> np.ndarray:
    """Slice id per order key: a seeded hash split into equal-size,
    disjoint slices (so every slice carries the same number of orders)."""
    perm = np.random.default_rng([seed, 1]).permutation(n_orders)
    out = np.empty(n_orders, dtype=np.int64)
    out[perm] = np.arange(n_orders) % n_slices
    return out


def embedding_split(seed: int, n_vectors: int, n_batches: int):
    """(founding ids, [batch ids...]): a seeded 3/4 founding corpus and
    the remaining quarter as disjoint, equal-size batches."""
    perm = np.random.default_rng([seed, 2]).permutation(n_vectors)
    n_found = n_vectors * 3 // 4
    found = np.sort(perm[:n_found])
    rest = perm[n_found:]
    return found, [np.sort(b) for b in np.array_split(rest, n_batches)]


def op_mix(seed: int, counts: dict[str, int]) -> list[str]:
    """A seeded shuffle of a fixed multiset of op kinds: every seed does
    the same amount of each kind of work, in a different order."""
    ops = [k for k, n in sorted(counts.items()) for _ in range(n)]
    order = np.random.default_rng([seed, 3]).permutation(len(ops))
    return [ops[i] for i in order]


def content_hash(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for batch in tables[name].combine_chunks().to_batches():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def _filter(table: pa.Table, column: str, keep: np.ndarray) -> pa.Table:
    return table.filter(pa.array(keep[table.column(column).to_numpy()]))


@dataclass
class Inputs:
    """Paths and sizes of one generated input set."""

    src: str
    slices: list[str]
    found_ids: np.ndarray
    batch_ids: list[np.ndarray]
    content_hash: str
    sizes: dict


def write_inputs(seed: int, root: str, sizes: Sizes = Sizes()) -> Inputs:
    """Generate one seed's inputs under ``root`` (created)."""
    tables = build_tables(seed, sizes)
    digest = content_hash(tables)
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(src, f"{name}.parquet"))
    slice_of = order_slices(seed, sizes.orders, sizes.slices)
    slices = []
    slice_rows = []
    for s in range(sizes.slices):
        d = os.path.join(root, f"slice{s:02d}")
        os.makedirs(d, exist_ok=True)
        keep = slice_of == s
        li = _filter(tables["lineitem"], "l_orderkey", keep)
        pq.write_table(_filter(tables["orders"], "o_orderkey", keep),
                       os.path.join(d, "orders.parquet"))
        pq.write_table(li, os.path.join(d, "lineitem.parquet"))
        slices.append(d)
        slice_rows.append(li.num_rows)
    found, batches = embedding_split(seed, sizes.vectors, sizes.vector_batches)
    emb = tables["embeddings"]
    ids = emb.column("vec_id").to_numpy()
    for name, keep_ids in [("emb_found", found)] + [
        (f"emb_batch{i:02d}", b) for i, b in enumerate(batches)
    ]:
        keep = np.zeros(len(ids), dtype=bool)
        keep[keep_ids] = True
        pq.write_table(emb.filter(pa.array(keep)), os.path.join(src, f"{name}.parquet"))
    src_bytes = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src) if not f.startswith("emb_")
    )
    return Inputs(
        src=src,
        slices=slices,
        found_ids=found,
        batch_ids=batches,
        content_hash=digest,
        sizes={
            "orders": sizes.orders,
            "lineitem": tables["lineitem"].num_rows,
            "fact_rows_per_slice_min": min(slice_rows),
            "fact_rows_per_slice_max": max(slice_rows),
            "slices": sizes.slices,
            "vectors": sizes.vectors,
            "vectors_founding": len(found),
            "vectors_per_batch": len(batches[0]),
            "src_bytes": src_bytes,
        },
    )
