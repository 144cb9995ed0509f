"""ann_lifecycle: the persisted IVF-PQ index through its serving life.

Set-up founds the index with ``write_ann_index`` on a seeded 3/4 of the
embeddings.  The pass repeats cycles of ``append_to_ann_index`` (seeded
disjoint batches; every other batch shifted by ``drifted_batch``) and
``ann_query``.  After the first cycle it tombstones some founding vectors
with ``delete_from_ann_index``, searches, runs ``compact_ann_index`` and
searches again: the two searches must agree.  It ends with
``maintain_ann_index`` and a last search.

Maintenance gets queries drawn from a drifted batch, as the
``ann_index_rebuilt_topk`` gate does, and runs with the rebuild
threshold at its floor.  On these inputs the measured mean recall drop
lands on either side of the default threshold depending on the seed,
and a rebuild that only some seeds take would make every number
bimodal.  So the retrain path always runs, and the maintained index can
be checked against a fresh ``write_ann_index`` over the same corpus.

It skips every medallion layer.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

import gen
from core import (
    WARMUP_SEED_OFFSET, Context, check_generator, collect, count_files,
    median_setup, result_hash,
)

CYCLE_S = 6.0        # the pass runs seconds/CYCLE_S append+search cycles
MIN_CYCLES = 2       # maintenance draws its queries from cycle 1's batch
N_DELETE = 40        # founding vectors tombstoned after the first cycle
N_QUERIES = 5
ALWAYS_REBUILD_E6 = -1_000_000   # the lowest mean recall drop there is


def n_cycles(seconds: int) -> int:
    return max(MIN_CYCLES, round(seconds / CYCLE_S))


class AnnLifecycle:
    def __init__(self, ctx: Context):
        from retail_etl_pipeline_airflow_s3_athena_spark.operators import annindex

        self.ctx = ctx
        self.spark = ctx.spark
        self.ann = annindex
        self.cycles = n_cycles(ctx.seconds)
        self.sizes = gen.Sizes(slices=1, vector_batches=self.cycles)
        self.answers: dict = {}

    def _emb(self, inputs: gen.Inputs, name: str):
        return self.spark.read.parquet(os.path.join(inputs.src, f"{name}.parquet"))

    # -- set-up ------------------------------------------------------------
    def found(self, base: str, seed: int) -> dict:
        inputs = gen.write_inputs(seed, os.path.join(base, "in"), self.sizes)
        found = self._emb(inputs, "emb_found")
        path = os.path.join(base, "ann")
        self.ann.write_ann_index(found, path)
        rng = np.random.default_rng([seed, 5])
        picks = rng.choice(inputs.found_ids, N_QUERIES + N_DELETE, replace=False)
        query_ids = sorted(int(i) for i in picks[:N_QUERIES])
        return {
            "inputs": inputs, "path": path, "found": found,
            "queries": found.filter(F.col("vec_id").isin(query_ids)).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            "delete_ids": sorted(int(i) for i in picks[N_QUERIES:]),
            "appended": [], "cycle": 0,
        }

    def warmup(self) -> None:
        """Found a warm-up-seed index on its own dirs and run one cycle."""
        ctx = self.ctx
        st = self.found(ctx.fresh_dir("warmup"), ctx.seed + WARMUP_SEED_OFFSET)
        self.cycle(st, record=False)

    def setup(self) -> float:
        s, self.state = median_setup(
            self.ctx, lambda d: self.found(d, self.ctx.seed)
        )
        return s

    # -- the pass ----------------------------------------------------------
    def _batch(self, st: dict, c: int):
        df = self._emb(st["inputs"], f"emb_batch{c:02d}")
        return self.ann.drifted_batch(df) if c % 2 else df

    def query(self, st: dict, tag: str, record: bool = True) -> None:
        with self.ctx.op("read", timed=record):
            with self.ctx.tracer.span("operators.annindex"):
                self.answers[tag] = collect(
                    self.ann.ann_query(self.spark, st["path"], st["queries"])
                )

    def cycle(self, st: dict, record: bool = True) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        c = st["cycle"]
        batch = self._batch(st, c)
        want = len(st["inputs"].batch_ids[c])
        with ctx.op("write", timed=record):
            with tr.span("operators.annindex"):
                got = self.ann.append_to_ann_index(batch, st["path"])
            if got != want:
                raise RuntimeError(f"append receipt {got} != batch size {want}")
        st["appended"].append(batch)
        st["cycle"] = c + 1
        self.query(st, f"cycle{c}", record)

    def delete_and_compact(self, st: dict) -> None:
        """Tombstone, search, compact, search."""
        ctx, tr, sp = self.ctx, self.ctx.tracer, self.spark
        ids = sp.createDataFrame([(i,) for i in st["delete_ids"]], "vec_id BIGINT")
        with ctx.op("maintain"):
            with tr.span("operators.annindex"):
                self.ann.delete_from_ann_index(ids, st["path"])
        st["deleted"] = True
        self.query(st, "before_compact")
        if tr.enabled:
            ctx.add("operators.annindex.codes_files",
                    count_files(os.path.join(st["path"], "codes")))
        with ctx.op("maintain"):
            with tr.span("operators.annindex"):
                self.ann.compact_ann_index(sp, st["path"])
        self.query(st, "after_compact")

    def current(self, st: dict):
        """The live corpus: founding minus tombstones, plus every batch."""
        cur = st["found"].select("vec_id", "embedding", "label")
        if st.get("deleted"):
            cur = cur.filter(~F.col("vec_id").isin(st["delete_ids"]))
        for b in st["appended"]:
            cur = cur.unionByName(b.select("vec_id", "embedding", "label"))
        return cur

    def maintain(self, st: dict) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        queries = self._batch(st, 1).orderBy("vec_id").limit(N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        with ctx.op("maintain"):
            with tr.span("operators.annindex"):
                out = self.ann.maintain_ann_index(
                    self.spark, st["path"], self.current(st), queries,
                    rebuild_drop_e6=ALWAYS_REBUILD_E6,
                )
        st["rebuilt"] = bool(out["rebuilt"])
        st["mean_drop_e6"] = out["mean_drop_e6"]
        if tr.enabled:
            ctx.add("operators.annindex.rebuilds", int(out["rebuilt"]))
        self.query(st, "after_maintain")

    def run_pass(self) -> None:
        st = self.state
        self.answers.clear()
        for c in range(self.cycles):
            self.cycle(st)
            if c == 0:
                self.delete_and_compact(st)
        self.maintain(st)

    # -- answers -----------------------------------------------------------
    def check(self) -> None:
        ctx, st, sp = self.ctx, self.state, self.spark
        check_generator(ctx, st["inputs"], self.sizes)
        a = self.answers
        if "before_compact" in a and "after_compact" in a:
            ctx.check(result_hash(*a["before_compact"]) == result_hash(*a["after_compact"]),
                      "ann_query changed across compaction")
        deleted = set(st["delete_ids"])
        for tag, (cols, rows) in a.items():
            ctx.check(len(rows) == N_QUERIES * self.ann.TOP_K,
                      f"{tag}: {len(rows)} rows, not {N_QUERIES} x top-{self.ann.TOP_K}")
            if tag != "cycle0":           # searched before the delete
                hit = {r[cols.index("neighbor_id")] for r in rows} & deleted
                ctx.check(not hit, f"{tag}: tombstoned ids {sorted(hit)[:5]} served")
        ctx.check(st.get("rebuilt", False), "maintain_ann_index did not rebuild")
        fresh = ctx.fresh_dir("ann_fresh")
        self.ann.write_ann_index(self.current(st), fresh)
        for table in ("centroids", "codebooks", "codes"):
            got, want = (
                result_hash(*collect(sp.read.parquet(os.path.join(p, table))))
                for p in (st["path"], fresh)
            )
            ctx.check(got == want, f"maintained {table} != fresh write_ann_index")

    def describe(self) -> dict:
        s = self.state["inputs"].sizes
        return {
            "cycles": self.cycles,
            "vectors": s["vectors"],
            "vectors_founding": s["vectors_founding"],
            "vectors_per_batch": s["vectors_per_batch"],
            "deleted": N_DELETE,
            "mean_drop_e6": self.state.get("mean_drop_e6"),
        }
