"""Persisted ANN index: write-once/query-forever must reproduce the
retrain-per-call ivf_pq_topk bit-for-bit, and the query plan must be
training-free and partition-pruned.

Reference scope: none (no vector surface in the reference) —
extension coverage for the ANN serving tier (r7 verdict #6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import release_cached
from retail_etl_pipeline_airflow_s3_athena_spark.operators import annindex, pq
from tests.conftest import jvm_table

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ann") / "idx")
    manifest = annindex.write_ann_index(_emb(spark), path)
    assert manifest["codes"] > 0 and manifest["codebooks"] > 0
    return path


def test_persisted_query_equals_retrained_ivf_pq(spark, index_path):
    """The whole point: write_ann_index -> ann_query == ivf_pq_topk
    (same tie-breaks, same exact-e6 integers) with zero training at
    query time."""
    queries = annindex.corpus_queries(_emb(spark))
    got = annindex.ann_query(spark, index_path, queries)
    got_rows = [tuple(r) for r in got.orderBy("query_id", "rank").collect()]
    release_cached(got)
    want = pq.ivf_pq_topk(_emb(spark))
    want_rows = [
        tuple(r) for r in want.orderBy("query_id", "rank").collect()
    ]
    release_cached(want)
    assert got_rows == want_rows
    assert len(got_rows) > 0


def test_query_plan_is_training_free_and_pruned(spark, index_path):
    queries = annindex.corpus_queries(_emb(spark))
    df = annindex.ann_query(spark, index_path, queries)
    df.collect()  # finalize the adaptive plan on THIS queryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    release_cached(df)
    # training-free: the only scans are the persisted index tables +
    # the query set — never the raw corpus re-read for Lloyd rounds.
    # (r12: the centroid scan runs inside the bounded probe job whose
    # result is re-emitted as a local relation, so the SERVED plan
    # reads codebooks + the pruned codes only.)
    assert "codebooks" in plan and "codes" in plan
    # the codes scan is partition-PRUNED by the probe list: an IN
    # filter over the cell partition column reaches the scan
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN?\b[^\]]*\]", plan)
    assert m, "codes scan must carry a cell partition filter"


def test_out_of_corpus_queries_work(spark, index_path):
    """Serving queries are NEW vectors, not corpus rows: shift ids
    out of corpus range, keep the payloads — every query still gets k
    ranked neighbors and no self-exclusion applies."""
    base = _emb(spark).filter(F.col("vec_id") < 3)
    queries = base.select(
        (F.col("vec_id") + 10**9).alias("query_id"), "embedding"
    )
    out = annindex.ann_query(spark, index_path, queries, k=5)
    rows = out.collect()
    release_cached(out)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == {10**9, 10**9 + 1, 10**9 + 2}
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_append_receipt_counts_distinct_ids(spark, tmp_path):
    """A batch that repeats a vec_id (under a different embedding)
    returns the DISTINCT id count, and codes/ gains exactly M_SUB rows
    and one cell per distinct id: the assignment and the cell argmax
    both group by vec_id, so the repeated rows merge into one code."""
    path = str(tmp_path / "idx")
    emb = _emb(spark)
    annindex.write_ann_index(emb, path)
    codes_before = spark.read.parquet(f"{path}/codes").count()
    shift = 1 << 42
    batch = (
        emb.filter(F.col("vec_id") < 3)
        .withColumn("vec_id", F.col("vec_id") + F.lit(shift))
        .unionByName(
            emb.filter(F.col("vec_id") == 5).withColumn(
                "vec_id", F.lit(shift).cast("long")
            )
        )
    )
    assert batch.count() == 4
    assert annindex.append_to_ann_index(batch, path) == 3
    codes = spark.read.schema(annindex.CODES_SCHEMA).parquet(f"{path}/codes")
    assert codes.count() - codes_before == 3 * pq.M_SUB
    per_id = {
        r["vec_id"]: (r["n"], r["cells"])
        for r in codes.filter(F.col("vec_id") >= shift)
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("cell").alias("cells"),
        )
        .collect()
    }
    assert per_id == {shift + i: (pq.M_SUB, 1) for i in range(3)}


def test_cell_tie_breaks_to_lower_label(spark):
    """A vector whose dround(6) cosine to two centroids is EXACTLY
    equal (1/sqrt(2) to both unit axes) is assigned to the lower
    label, and nprobe=1 probes that same lower label, although the
    higher label's row comes first."""
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.similarity import (
        _as_queries,
        _cents_norm,
        _nearest_cell,
        _normed,
        _probe,
    )

    dim = 4
    coarse = _cents_norm(
        jvm_table(
            spark,
            [(7, [0.0, 1.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0, 0.0]),
             (5, [0.0, 0.0, 1.0, 0.0])],
            "label BIGINT, cv ARRAY<DOUBLE>",
        ),
        dim,
    )
    corpus = _normed(
        jvm_table(
            spark,
            [(0, [1.0, 1.0, 0.0, 0.0]), (1, [0.1, 1.0, 0.0, 0.0])],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        ),
        dim,
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in _nearest_cell(corpus, coarse, dim).collect()
    }
    assert cells == {0: 3, 1: 7}
    probes = {
        (r["query_id"], r["cell"])
        for r in _probe(_as_queries(corpus), coarse, 1, dim).collect()
    }
    assert probes == {(0, 3), (1, 7)}
    probes2 = {
        (r["query_id"], r["cell"])
        for r in _probe(_as_queries(corpus), coarse, 2, dim).collect()
    }
    assert probes2 == {(0, 3), (0, 7), (1, 7), (1, 3)}


def test_compaction_collapses_fragments_and_preserves_answers(spark, tmp_path):
    """The daily-loop small-files problem: 3 appends leave one parquet
    fragment per cell per batch; compact_ann_index rewrites each cell
    to ONE file and ann_query answers are bit-identical."""
    path = str(tmp_path / "idx")
    emb = _emb(spark)
    annindex.write_ann_index(emb, path)
    for i in range(3):
        shifted = emb.withColumn(
            "vec_id", F.col("vec_id") + F.lit((i + 1) << 40)
        )
        annindex.append_to_ann_index(shifted, path)
    q = annindex.corpus_queries(emb)
    before = annindex.ann_query(spark, path, q)
    b_rows = [tuple(r) for r in before.orderBy("query_id", "rank").collect()]
    release_cached(before)
    manifest = annindex.compact_ann_index(spark, path)
    # one file per cell afterwards; 4 write rounds before
    assert manifest["files_after"] < manifest["files_before"]
    n_cells = (
        spark.read.schema(annindex.CODES_SCHEMA)
        .parquet(f"{path}/codes")
        .select("cell")
        .distinct()
        .count()
    )
    assert manifest["files_after"] == n_cells
    assert manifest["codes"] == 4 * emb.filter(
        F.col("embedding").isNotNull()
    ).count() * pq.M_SUB
    after = annindex.ann_query(spark, path, q)
    a_rows = [tuple(r) for r in after.orderBy("query_id", "rank").collect()]
    release_cached(after)
    assert b_rows == a_rows and len(a_rows) > 0


def test_staleness_drifted_batch_drops_recall(spark, tmp_path):
    """The rebuild trigger: a +0.5-shifted appended batch must score
    measurably WORSE on the frozen index than on a fresh retrain
    (aggregate fresh_hits > stale_hits; values pinned by the oracle
    gate, direction pinned here)."""
    path = str(tmp_path / "idx")
    emb = _emb(spark)
    annindex.write_ann_index(emb, path)
    batch = annindex.drifted_batch(emb)
    annindex.append_to_ann_index(batch, path)
    current = emb.select("vec_id", "embedding", "label").unionByName(batch)
    queries = batch.filter(
        F.col("vec_id") < annindex.DRIFT_SHIFT + annindex.N_QUERIES
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    out = annindex.ann_index_staleness(
        spark, path, current, queries, k=annindex.STALE_K
    )
    rows = out.collect()
    release_cached(out)
    assert len(rows) == annindex.N_QUERIES
    stale_total = sum(r["stale_hits"] for r in rows)
    fresh_total = sum(r["fresh_hits"] for r in rows)
    assert fresh_total > stale_total, (stale_total, fresh_total)
    for r in rows:
        assert r["recall_drop_e6"] == (
            r["fresh_recall_e6"] - r["stale_recall_e6"]
        )


def test_maintain_rebuilds_on_drift_and_skips_on_none(spark, tmp_path):
    """The measured maintenance policy: a drifted batch trips the
    rebuild threshold (index == fresh retrain afterwards); appending
    EXACT twins does not (mean drop ~0), and the index keeps serving
    the frozen state — both paths end compacted."""
    emb = _emb(spark)
    # drift path
    p1 = str(tmp_path / "idx1")
    annindex.write_ann_index(emb, p1)
    batch = annindex.drifted_batch(emb)
    annindex.append_to_ann_index(batch, p1)
    current = emb.select("vec_id", "embedding", "label").unionByName(batch)
    queries = batch.filter(
        F.col("vec_id") < annindex.DRIFT_SHIFT + annindex.N_QUERIES
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    m1 = annindex.maintain_ann_index(spark, p1, current, queries)
    assert m1["rebuilt"] and m1["mean_drop_e6"] >= annindex.REBUILD_DROP_E6
    got = annindex.ann_query(spark, p1, queries)
    g = [tuple(r) for r in got.orderBy("query_id", "rank").collect()]
    release_cached(got)
    fresh = pq.ivf_pq_topk_for(current, queries)
    w = [tuple(r) for r in fresh.orderBy("query_id", "rank").collect()]
    release_cached(fresh)
    assert g == w and len(g) > 0
    # no-drift path: exact twins, batch-drawn queries — frozen books
    # code twins exactly like originals, so the drop is ~0
    p2 = str(tmp_path / "idx2")
    annindex.write_ann_index(emb, p2)
    shift = 1 << 40
    twins = emb.select(
        (F.col("vec_id") + shift).alias("vec_id"), "embedding", "label"
    )
    annindex.append_to_ann_index(twins, p2)
    cur2 = emb.select("vec_id", "embedding", "label").unionByName(twins)
    q2 = twins.filter(F.col("vec_id") < shift + annindex.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    m2 = annindex.maintain_ann_index(spark, p2, cur2, q2)
    assert not m2["rebuilt"], m2
    assert m2["mean_drop_e6"] < annindex.REBUILD_DROP_E6


def test_append_without_retrain(spark, tmp_path):
    """FAISS-`add` semantics: appended twins are assigned against the
    PERSISTED books (no training), every query's neighbor list
    interleaves original and twin at identical ADC distances with the
    original id winning the tie-break."""
    path = str(tmp_path / "idx")
    emb = _emb(spark)
    annindex.write_ann_index(emb, path)
    before = spark.read.parquet(f"{path}/codes").count()
    shift = 1 << 40
    shifted = emb.withColumn("vec_id", F.col("vec_id") + F.lit(shift))
    n = annindex.append_to_ann_index(shifted, path)
    assert n == emb.filter(F.col("embedding").isNotNull()).count()
    after = spark.read.parquet(f"{path}/codes")
    assert after.count() == 2 * before
    # twins carry the SAME codes and cells as their originals
    orig = {
        (r["vec_id"], r["m"]): (r["code"], r["cell"])
        for r in after.filter(F.col("vec_id") < shift).collect()
    }
    twin = {
        (r["vec_id"] - shift, r["m"]): (r["code"], r["cell"])
        for r in after.filter(F.col("vec_id") >= shift).collect()
    }
    assert orig == twin
    out = annindex.ann_query(
        spark, path, annindex.corpus_queries(emb), k=4
    )
    rows = out.collect()
    release_cached(out)
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["adc_e6"])
        )
    for qid, lst in by_q.items():
        lst.sort()
        # ranks come in (original, twin) adjacent pairs with equal adc
        # — except the query's own twin, whose original is excluded
        for (r1, n1, d1), (r2, n2, d2) in zip(lst, lst[1:]):
            if n2 == n1 + (1 << 40):
                assert d1 == d2 and r2 == r1 + 1


def test_delete_tombstones_then_compaction_folds(spark, tmp_path):
    """r11 delete lifecycle: tombstoned vectors vanish from neighbor
    lists immediately (no retrain, codes untouched); compaction
    physically drops them, clears the tombstone table, and the served
    answers are bit-identical before/after the fold."""
    path = str(tmp_path / "idx")
    emb = _emb(spark)
    annindex.write_ann_index(emb, path)
    q = annindex.corpus_queries(emb)
    base = annindex.ann_query(spark, path, q)
    victims = {
        r["neighbor_id"]
        for r in base.filter(F.col("rank") <= 2).collect()
    }
    release_cached(base)
    n_codes_before = spark.read.parquet(f"{path}/codes").count()
    n = annindex.delete_from_ann_index(
        jvm_table(spark, [(int(v),) for v in sorted(victims)], "vec_id BIGINT"),
        path,
    )
    assert n == len(victims)
    # logical: codes table untouched, neighbors gone
    assert spark.read.parquet(f"{path}/codes").count() == n_codes_before
    after = annindex.ann_query(spark, path, q)
    rows_after = after.collect()
    release_cached(after)
    assert not ({r["neighbor_id"] for r in rows_after} & victims)
    # physical: compaction folds + clears, answers identical
    manifest = annindex.compact_ann_index(spark, path)
    assert manifest["deletes_folded"] == len(victims)
    assert annindex._read_tombstones(spark, path) is None
    m_sub = len({r["m"] for r in spark.read.parquet(f"{path}/codes").select("m").distinct().collect()})
    assert (
        spark.read.parquet(f"{path}/codes").count()
        == n_codes_before - len(victims) * m_sub
    )
    folded = annindex.ann_query(spark, path, q)
    rows_folded = folded.collect()
    release_cached(folded)
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, rows_folded)) == sorted(map(tuple, rows_after))


def test_concurrent_delete_during_compaction_survives(spark, tmp_path, monkeypatch):
    """ADVICE r11 (medium): compaction folds a FILE-LIST SNAPSHOT of
    the tombstone table and clears only those files — ids appended by
    a delete that lands between the snapshot and the clear must stay
    tombstoned (never resurface as neighbors) and fold on the NEXT
    compaction."""
    path = str(tmp_path / "idx")
    emb = _emb(spark)
    annindex.write_ann_index(emb, path)
    q = annindex.corpus_queries(emb)
    base = annindex.ann_query(spark, path, q)
    ranked = base.filter(F.col("rank") <= 2).collect()
    release_cached(base)
    victims = sorted({r["neighbor_id"] for r in ranked})
    early, late = victims[: len(victims) // 2], victims[len(victims) // 2:]
    assert early and late
    annindex.delete_from_ann_index(
        jvm_table(spark, [(int(v),) for v in early], "vec_id BIGINT"), path
    )

    orig_snapshot = annindex._tombstone_files

    def snapshot_then_concurrent_delete(s, p):
        files = orig_snapshot(s, p)
        # a deleter races the compactor: its batch lands AFTER the
        # compactor snapshotted the tombstone table
        annindex.delete_from_ann_index(
            jvm_table(spark, [(int(v),) for v in late], "vec_id BIGINT"), p
        )
        return files

    monkeypatch.setattr(
        annindex, "_tombstone_files", snapshot_then_concurrent_delete
    )
    manifest = annindex.compact_ann_index(spark, path)
    monkeypatch.setattr(annindex, "_tombstone_files", orig_snapshot)

    # only the snapshot was folded + cleared; the late batch survives
    assert manifest["deletes_folded"] == len(early)
    tomb = annindex._read_tombstones(spark, path)
    assert tomb is not None
    assert {r["vec_id"] for r in tomb.collect()} == set(late)
    # serve path: BOTH batches stay invisible
    served = annindex.ann_query(spark, path, q)
    neighbors = {r["neighbor_id"] for r in served.collect()}
    release_cached(served)
    assert not (neighbors & set(victims))
    # next compaction folds the late batch and clears the table
    manifest2 = annindex.compact_ann_index(spark, path)
    assert manifest2["deletes_folded"] == len(late)
    assert annindex._read_tombstones(spark, path) is None
