"""Similarity search over embedding columns (``embeddings`` table:
vec_id BIGINT, embedding ARRAY<FLOAT> (64-dim), label INT).

Operators:
- cosine_topk        : brute-force exact top-k neighbors for a query set
- label_centroids    : element-wise mean vector per label (exploded form)
- ivf_topk           : IVF-style ANN — assign vectors to nearest centroid
                       cell, probe the query's nprobe nearest cells only
- rp_lsh_signatures  : random-hyperplane (SimHash-for-vectors) bit
                       signatures for LSH bucketing
- embedding_near_dup : all-pairs cosine >= threshold (exact; the scale
                       path is rp_lsh bucketing first)

All vector math is native Spark column expressions: elements cast to
double, dot products UNROLLED into flat left-associated sums (see
``dot``) so they stay inside WholeStageCodegen and accumulate in the
same order as DuckDB's list_reduce fold — both engines produce
bit-identical doubles and the oracle can hash-compare.

Scale notes (100 TB / billions of vectors):
- cosine_topk broadcasts the (small) query set; the corpus is scanned
  once, no shuffle; per-partition partial top-k then a tiny final merge
  (TakeOrderedAndProject shape via row_number over a bounded query set).
- ivf_topk's assignment is a broadcast join against <=K centroids (tiny)
  and prunes the scan to nprobe/K of the corpus — the standard IVF
  recall/cost dial.
- rp_lsh signatures are a narrow map (16 bits/vector); bucket self-join
  is the only shuffle, on uniform keys.
- exact all-pairs near-dup exists for verification and small corpora;
  at scale you ALWAYS bucket first (rp_lsh or ivf cell) — the module
  deliberately exposes both so the plan choice is explicit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import (
    money_avg,
    sql_money_avg,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import (
    FP_MOD,
    dround,
    sql_dround,
)

RP_BITS = 16  # random-hyperplane signature width
RP_MULT = 2654435761  # Knuth multiplicative constant for hyperplane gen
EMB_DIM = 64  # fixture embedding dimensionality


def _as_double(arr: Column) -> Column:
    # NATIVE array cast (codegen'd), not a transform lambda (which is
    # interpreted).  float->double is exact, so pre-casting once per
    # row is bit-identical to casting per term.
    return arr.cast("array<double>")


def dot(a: Column, b: Column, dim: int = EMB_DIM) -> Column:
    """Dot product as an UNROLLED left-associated sum of element_at
    terms.  INPUTS MUST ALREADY BE array<double> (use ``_as_double`` /
    ``_normed``): per-term casts tripled the expression-tree size,
    which dominated driver analysis + codegen time for the big
    similarity plans (measured 3.9s -> 1.2s for one corpus dot pass
    at sf0.1).  Two reasons over a zip_with/aggregate fold: (1) flat
    expressions stay in WholeStageCodegen — array lambdas are
    interpreted, ~30x slower in the all-pairs hot loop; (2) the
    left-assoc chain 0+t1+t2+... is the exact accumulation order of
    DuckDB's list_reduce fold, so both engines produce bit-identical
    doubles."""
    terms = [
        F.element_at(a, i) * F.element_at(b, i)
        for i in range(1, dim + 1)
    ]
    return sum(terms)  # Python sum: 0 + t1 + t2 + ... left-assoc


def cosine(a: Column, b: Column, dim: int = EMB_DIM) -> Column:
    a = _as_double(a)
    b = _as_double(b)
    return dround(
        dot(a, b, dim) / (F.sqrt(dot(a, a, dim)) * F.sqrt(dot(b, b, dim))), 6
    )


def _drop_null_vecs(embeddings: DataFrame) -> DataFrame:
    """NULL embedding rows carry no signal and crash numpy kernels /
    nullify expression folds — every vector operator drops them up
    front (a narrow filter pushed to the scan), mirroring how the text
    operators treat NULL text as an empty token stream."""
    return embeddings.filter(F.col("embedding").isNotNull())


def _normed(embeddings: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """(vec_id, v: array<double>, nrm): corpus pre-cast to double ONCE
    (dot() then needs no per-term casts) with the vector norm
    precomputed — pair scoring only pays the cross-term dot."""
    v = _as_double(F.col("embedding"))
    return _drop_null_vecs(embeddings).select(
        "vec_id",
        v.alias("v"),
        F.sqrt(dot(v, v, dim)).alias("nrm"),
    )


def _pair_cosine(av, bv, anrm, bnrm, dim: int = EMB_DIM) -> Column:
    return dround(dot(av, bv, dim) / (anrm * bnrm), 6)


def _as_queries(normed: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) -> (query_id, qv, qnrm): the query side."""
    return normed.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
    )


def _query_vecs(queries: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """An explicit (query_id, embedding) set as (query_id, qv, qnrm),
    through EXACTLY the corpus's ``_normed`` cast/norm path — required
    for the bit-identical-oracle contract."""
    return _as_queries(
        _normed(queries.select(F.col("query_id").alias("vec_id"), "embedding"), dim)
    )


# ---------------------------------------------------------------------------
# Cell primitives shared by the IVF, k-means, IVF-PQ and persisted-index
# paths: centroid norms, nearest cell, nprobe probe, position-sorted
# reassembly and member means.  Every tie-break is pinned here once.
# ---------------------------------------------------------------------------

def _cents_norm(cents: DataFrame, dim: int) -> DataFrame:
    """(label, cv) -> (label, cv, cnrm): the centroid norm precomputed
    ONCE — per-pair scoring then pays a single unrolled dot (the cross
    term) instead of three; the same value bit-for-bit, 3x less
    codegen."""
    return cents.select(
        "label", "cv",
        F.sqrt(dot(F.col("cv"), F.col("cv"), dim)).alias("cnrm"),
    )


def _nearest_cell(
    corpus: DataFrame,
    coarse: DataFrame,
    dim: int,
    out: str = "cell",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, out, *carry): each ``_normed`` corpus vector's nearest
    (label, cv, cnrm) centroid by cosine, tie-break (cos desc, label
    asc) pinned by the (c_cos, -label) ordering struct.  ``max_by``
    aggregation, NOT a row_number window: the argmax combines map-side,
    so the corpus x K scored rows never shuffle — only (vec_id, best)
    pairs do.  ``carry`` columns ride along (one value per vec_id)."""
    return (
        corpus.crossJoin(F.broadcast(coarse))
        .select(
            "vec_id", *carry, "label",
            _pair_cosine(
                F.col("v"), F.col("cv"), F.col("nrm"), F.col("cnrm"), dim
            ).alias("c_cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("label"), F.struct(F.col("c_cos"), (-F.col("label")))
            ).alias(out),
            *[F.first(c).alias(c) for c in carry],
        )
    )


def _probe(
    queries: DataFrame,
    coarse: DataFrame,
    nprobe: int,
    dim: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(query_id, *carry, cell): each (query_id, qv, qnrm) query's
    ``nprobe`` nearest cells, (cos desc, label asc) — the same order
    as ``_nearest_cell``, so nprobe=1 probes the assigned cell.  The
    window is partitioned by query_id over a bounded query set."""
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_cos"), F.asc("label")
    )
    return (
        queries.crossJoin(F.broadcast(coarse))
        .select(
            "query_id", *carry, "label",
            _pair_cosine(
                F.col("qv"), F.col("cv"), F.col("qnrm"), F.col("cnrm"), dim
            ).alias("c_cos"),
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", *carry, F.col("label").alias("cell"))
    )


def _reassemble_vec(df: DataFrame, keys: list, out: str) -> DataFrame:
    """(keys..., pos, val) -> (keys..., out: array<double>), the
    position-sorted struct-collect idiom (deterministic under any
    partitioning)."""
    return df.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "val"))),
            lambda s: s.val,
        ).alias(out)
    )


def _member_means(df: DataFrame, keys: list[str], vec: str) -> DataFrame:
    """(keys..., pos, val, n_members): element-wise mean of the ``vec``
    arrays per key, dround(6) on the exact scaled-integer average
    (order-independent), so both engines agree exactly."""
    return (
        df.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(
            dround(money_avg("x", 8), 6).alias("val"),
            F.count("*").alias("n_members"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
    )


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, dim: int = EMB_DIM
) -> DataFrame:
    """Exact top-k cosine neighbors for the query set vec_id < n_queries.

    Broadcast the queries; one pass over the corpus; rank per query with
    deterministic tie-break (cosine desc, neighbor id asc)."""
    corpus = _normed(embeddings, dim)
    queries = _as_queries(corpus.filter(F.col("vec_id") < n_queries))
    scored = (
        corpus.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pair_cosine(
                F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm"), dim
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_topk_gemm(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, dim: int = EMB_DIM
) -> DataFrame:
    """``cosine_topk`` with the per-pair math done by Arrow-batched
    numpy instead of a ~400-node codegen expression — same plan shape
    (broadcast queries, one corpus pass, partial top-k per partition,
    tiny global merge) but no multi-second codegen compile and BLAS-rate
    arithmetic.

    BIT-IDENTICAL to ``cosine_topk`` and the DuckDB oracle, not merely
    close: float32→float64 casts are exact, and ``np.cumsum`` along the
    vector axis accumulates strictly left-associated — the same order as
    the unrolled expression chain and the SQL ``list_reduce`` fold
    (0.0 + t1 ≡ t1).  ``dround`` is mirrored with the same binary ops.
    Equality is test-enforced against the expression operator.

    The query set is collected to the driver (bounded: ``n_queries``
    rows) and numpy-broadcast to executors; at a billion-vector corpus
    this is the standard dense-retrieval sharding — queries ride along,
    the corpus never shuffles, only parts×queries×k candidate rows move."""
    import numpy as np
    import pandas as pd

    embeddings = _drop_null_vecs(embeddings)
    q_rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    if not q_rows:
        # empty corpus / no queries: 0-row result, not a shape error
        return embeddings.sparkSession.createDataFrame([], schema)
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qnrm = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])
    bq = embeddings.sparkSession.sparkContext.broadcast((qids, Q, qnrm))

    def part(it):
        p_qids, p_Q, p_qnrm = bq.value
        scale = 1e6
        for pdf in it:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            cnrm = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])
            frames = []
            for qi in range(len(p_qids)):
                dots = np.cumsum(C * p_Q[qi], axis=1)[:, -1]
                cos = np.floor(dots / (p_qnrm[qi] * cnrm) * scale + 0.5) / scale
                mask = ids != p_qids[qi]
                c, nid = cos[mask], ids[mask]
                top = np.lexsort((nid, -c))[:k]  # partial top-k, same
                # total order as the global merge → exact
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": p_qids[qi],
                            "neighbor_id": nid[top],
                            "cos_sim": c[top],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    scored = embeddings.select("vec_id", "embedding").mapInPandas(part, schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Element-wise mean vector per label, exploded to (label, pos, val)
    rows — a distributed vector aggregate: posexplode -> groupBy
    (label, pos) -> avg.  Scalar output schema keeps it oracle-hashable.

    Values are dround(6) so downstream cosine math sees identical inputs
    in both engines despite engine-specific summation order."""
    return (
        embeddings.select(
            F.col("label").cast("long").alias("label"),
            F.posexplode(_as_double(F.col("embedding"))).alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(dround(money_avg("x", 8), 6).alias("val"))
        .withColumn("pos", F.col("pos").cast("long"))
    )


def _centroid_vectors(embeddings: DataFrame) -> DataFrame:
    """(label, cv: array<double>) — centroids reassembled in pos order."""
    return _reassemble_vec(label_centroids(embeddings), ["label"], "cv")


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 2,
    dim: int = EMB_DIM,
) -> DataFrame:
    """IVF ANN: corpus vectors are assigned to their nearest centroid
    cell; each query searches only its nprobe nearest cells.

    Both the assignment and probing joins broadcast the tiny centroid
    set — at a billion vectors the corpus-side work is one narrow pass
    plus a shuffle-free top-k.  The centroid table is persisted (K
    rows): it feeds BOTH broadcast joins, and without the persist the
    centroid aggregation — a full corpus pass — runs twice.  Cache
    ownership transfers to the caller
    (``functions.caching.release_cached``)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
    )

    corpus = _normed(embeddings, dim)
    cents = _cents_norm(_centroid_vectors(embeddings), dim).persist()
    assigned = _nearest_cell(corpus, cents, dim, carry=("v", "nrm")).select(
        "vec_id", "v", "nrm", "cell"
    )
    probed = _probe(
        _as_queries(corpus.filter(F.col("vec_id") < n_queries)),
        cents, nprobe, dim, carry=("qv", "qnrm"),
    )

    scored = (
        probed.join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _pair_cosine(
                F.col("qv"), F.col("v"), F.col("qnrm"), F.col("nrm"), dim
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return attach_cached_deps(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank"),
        cents,
    )


def _rp_sign(b: int, i: int) -> float:
    """±1 hyperplane element — a plan-time CONSTANT per (bit, dim)."""
    return 1.0 if ((i + b * 64) * RP_MULT % FP_MOD) % 2 == 0 else -1.0


def rp_lsh_signatures(
    embeddings: DataFrame, bits: int = RP_BITS, dim: int = EMB_DIM
) -> DataFrame:
    """Random-hyperplane LSH: bit b = sign(dot(v, h_b)) where h_b is a
    deterministic pseudo-random ±1 hyperplane:
    h_b[i] = +1 if ((b*64+i)*RP_MULT) % FP_MOD is even else -1.

    The hyperplane elements are plan-time constants, so each projection
    UNROLLS to a flat left-associated sum (same policy as ``dot``)
    accumulating in the oracle fold's exact order — signatures are
    bit-identical across engines.  CAVEAT: the 16-bit × 64-dim tree
    still overflows janino's 64 KB method limit and evaluates
    interpreted (~1.4s / 2000 rows at sf0.1 after the cast-free
    rework; was 7.7s).  ``rp_lsh_signatures_gemm`` is the production
    path (bit-identical, test-enforced) and is what the gate and
    ``embedding_near_dup_lsh`` use; this form exists as the
    pure-Catalyst reference implementation.

    Precondition: every embedding has exactly ``dim`` elements.  The
    unrolled element_at(i) chain returns NULL past the end of a short
    vector, which would silently zero the bit — so rows with a
    mismatched size raise instead (fails the job loudly rather than
    emitting wrong signatures)."""
    v = _as_double(F.col("embedding"))
    sig = None
    for b in range(bits):
        terms = [
            F.element_at(v, i + 1) * F.lit(_rp_sign(b, i))
            for i in range(dim)
        ]
        proj = sum(terms)  # 0 + t0 + t1 + ... left-assoc, = the SQL fold
        bit = F.when(proj > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    guarded = F.when(F.size(v) == dim, sig).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"rp_lsh_signatures: embedding dim != {dim} (got "),
                F.size(v).cast("string"),
                F.lit(f") for vec_id "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    return _drop_null_vecs(embeddings).select("vec_id", guarded.alias("rp_sig"))


# Above this corpus size the exact all-pairs plan (O(n^2) comparisons)
# is dispatched to the LSH-bucketed scale path instead — the same
# bounded-threshold dispatch the connected-components family uses
# (cluster.py).  Fixture scales (sf0.001-0.1: <= ~6k vectors) stay on
# the exact path, keeping it the oracle-calibration twin.
EXACT_NEAR_DUP_MAX_ROWS = 20_000


def embedding_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    dim: int = EMB_DIM,
    exact_max_rows: int = EXACT_NEAR_DUP_MAX_ROWS,
) -> DataFrame:
    """Cosine near-duplicate pairs (a < b, cos >= threshold), with a
    corpus-size dispatch: EXACT all-pairs under ``exact_max_rows``
    (verification/calibration scale — the quadratic plan is the oracle
    twin), the rp-LSH bucketed path above it (recall-bounded but
    O(bucket) pair space — the only plan that survives 100x scale).
    The one count() job that sizes the corpus is a single columnar
    scan of the id column — negligible next to either path."""
    if embeddings.count() <= exact_max_rows:
        return embedding_near_dup_exact(embeddings, threshold, dim)
    return embedding_near_dup_lsh(embeddings, threshold, dim=dim)


def embedding_near_dup_exact(
    embeddings: DataFrame, threshold: float = 0.4, dim: int = EMB_DIM
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates (a < b, cos >= threshold).
    Verification-scale only; at corpus scale bucket by rp_lsh_signatures
    or ivf cell first so the pair space is bounded (see
    ``embedding_near_dup``'s dispatch).

    Join shape note (r13, measured): keep the plain non-equi join —
    Spark plans a CartesianProduct whose task grid is left×right scan
    partitions (16 tasks at bench scale) and whose pair scoring stays
    inside WholeStageCodegen.  The tempting BroadcastNestedLoopJoin
    (broadcast the bounded side, fan the stream side) measured 7x
    SLOWER (18.6 s vs 2.7 s at sf0.1): BNLJ evaluates the unrolled
    64-term projection outside codegen, one pair at a time."""
    e = _normed(embeddings, dim)
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _pair_cosine(
                F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm"), dim
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def rp_lsh_signatures_gemm(
    embeddings: DataFrame, bits: int = RP_BITS, dim: int = EMB_DIM
) -> DataFrame:
    """``rp_lsh_signatures`` with the projections done by Arrow-batched
    numpy instead of a 1024-node expression tree (which exceeds
    whole-stage codegen limits and evaluates interpreted — ~50x slower
    measured at sf0.1).  BIT-IDENTICAL to the expression operator and
    its oracle: fp64 products accumulated with ``np.cumsum`` along the
    vector axis (strictly left-associated, the fold's order), the same
    ``proj > 0`` bit rule, and the same ±1 hyperplane constants.
    Equality is test-enforced against the expression form.

    Same loud-failure precondition as the expression form: a row whose
    embedding size differs from ``dim`` raises."""
    import numpy as np
    import pandas as pd

    H = np.array(
        [[_rp_sign(b, i) for i in range(dim)] for b in range(bits)],
        dtype=np.float64,
    )  # bits x dim, plan-time constants
    weights = (1 << np.arange(bits, dtype=np.int64))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("rp_sig", T.LongType()),
        ]
    )
    sub = 1024  # (sub, bits, dim) fp64 stays ~8 MB regardless of batch

    def part(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            embs = list(pdf["embedding"])
            for vid, e in zip(pdf["vec_id"], embs):
                if len(e) != dim:
                    raise ValueError(
                        f"rp_lsh_signatures: embedding dim != {dim} "
                        f"(got {len(e)}) for vec_id {vid}"
                    )
            out = []
            for s in range(0, len(embs), sub):
                C = np.array(embs[s : s + sub], dtype=np.float64)
                proj = np.cumsum(C[:, None, :] * H[None, :, :], axis=-1)[
                    :, :, -1
                ]
                out.append(((proj > 0) * weights).sum(axis=1))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "rp_sig": np.concatenate(out),
                }
            )

    return (
        _drop_null_vecs(embeddings)
        .select("vec_id", "embedding")
        .mapInPandas(part, schema)
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bits: int = RP_BITS,
    bands: int = 2,
    dim: int = EMB_DIM,
) -> DataFrame:
    """The BUCKETED near-dup path: rp-LSH band collision generates
    candidates, exact cosine verifies — the extreme-scale architecture
    the all-pairs/GEMM operators document as their successor.

    Candidate generation is an equi-join on (band, band_bits): a pair
    is compared ONLY if its signatures agree on all ``bits/bands`` bits
    of some band, so the pair space is bucket-bounded instead of
    O(n^2).  Recall is the standard LSH trade (sign-random-projection:
    P[bit agrees] = 1 - angle/pi, per-band p^(bits/bands), amplified
    across bands) — at corpus scale you raise ``bits`` and ``bands``
    to tune it; the verify step keeps precision exact.

    The oracle twin implements the SAME banding over the bit-identical
    rp signatures, so the correctness gate hash-matches exactly — the
    probabilistic recall is part of the operator's defined semantics,
    not engine noise.

    Both persisted intermediates are multiply-consumed (the banded
    signature table feeds both sides of the self-join; the normed
    corpus both sides of the verify join) — without the persists the
    1024-term signature projection and the norm computation each run
    twice.  Cache ownership transfers to the caller
    (``functions.caching.release_cached``)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
    )

    band_bits = bits // bands
    sig = rp_lsh_signatures_gemm(embeddings, bits, dim).persist()
    banded = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("rp_sig", b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bb"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.band", "s.bb")
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bb") == F.col("r.bb"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b")
        )
        .distinct()
    )
    e = _normed(embeddings, dim).persist()
    a, b = e.alias("a"), e.alias("b")
    return attach_cached_deps(
        cands.join(a, cands.vec_a == F.col("a.vec_id"))
        .join(b, cands.vec_b == F.col("b.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            _pair_cosine(
                F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm"), dim
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold),
        sig,
        e,
    )


def embedding_near_dup_gemm(
    embeddings: DataFrame, threshold: float = 0.4, tile_rows: int = 65536
) -> DataFrame:
    """All-pairs cosine near-dup via TILED block matrix products: the
    corpus is hash-split into bounded tiles; each tile (≤ ``tile_rows``
    vectors, ~32 MB at dim 64) is broadcast in turn and every Arrow
    batch of the corpus scan is multiplied against it with vectorized
    fp64 numpy.

    Scale story (billions of vectors): driver memory is O(tile), never
    O(corpus) — each pass collects ONE hash-bounded tile, and a pair
    (a,b) is emitted exactly once, in the pass owning b's tile, so no
    dedup step is needed.  The corpus side streams; only matching pairs
    ever shuffle.  Cost is ntiles corpus scans — the standard blocked
    all-pairs trade (at extreme scale you bucket first: rp_lsh / ivf).

    BIT-IDENTICAL to ``embedding_near_dup`` and the DuckDB oracle: fp64
    element products accumulated with ``np.cumsum`` along the vector
    axis (strictly left-associated — the SQL ``list_reduce`` fold's
    order), norms from the same fold, and ``dround(6)`` mirrored with
    the same binary ops.  It therefore shares
    ``oracle_embedding_near_dup_sql`` with the expression operator."""
    import math
    from functools import reduce

    import numpy as np

    spark = embeddings.sparkSession
    src = _drop_null_vecs(embeddings).select("vec_id", "embedding")
    n = src.count()
    ntiles = max(1, math.ceil(n / tile_rows))
    tiled = src.withColumn("_tile", F.pmod(F.xxhash64("vec_id"), F.lit(ntiles)))

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    scale = 1e6  # dround(6): floor(x*1e6 + 0.5)/1e6, same ops both engines

    def _fold_dots(prod: "np.ndarray") -> "np.ndarray":
        # left-associated sum along the last axis == the SQL fold.
        # In-place (mutates ``prod`` — callers always pass a fresh
        # product temporary): halves peak task memory vs an out-of-
        # place cumsum copy.
        return np.cumsum(prod, axis=-1, out=prod)[..., -1]

    def _fold_dot_mat(C: "np.ndarray", Tm: "np.ndarray") -> "np.ndarray":
        # All pairwise dots with the SAME strictly left-associated
        # accumulation order as the SQL fold, WITHOUT materializing the
        # (m, n, dim) tensor: acc_k = acc_{k-1} + C[:,k] ⊗ Tm[:,k] is,
        # per element, exactly t0 + t1 + ... (cumsum's order), at
        # O(m·n) memory instead of O(m·n·dim).  Not BLAS matmul — that
        # would pairwise/block the reduction and break bit-identity
        # with the oracle.
        acc = np.multiply.outer(C[:, 0], Tm[:, 0])
        for k in range(1, C.shape[1]):
            acc += np.multiply.outer(C[:, k], Tm[:, k])
        return acc

    def _tile_pass(bcast):
        def batches(it):
            import pandas as pd

            t_ids, t_mat, t_nrm = bcast.value
            # Both block axes are chunked so task memory is bounded by
            # CONSTANTS, not by Spark's Arrow batch size.  With the
            # k-loop fold the working set is the (csub, sub) accumulator
            # plus same-shape cos/keep temporaries (~3 x 8 MB at
            # 512x2048) — the r4 3-D-tensor kernel needed 128x256
            # chunks for the same bound and paid 16x more Python loop
            # iterations (the +71% bench regression).
            sub = 2048  # tile-axis chunk
            csub = 512  # corpus-axis chunk
            for pdf in it:
                if len(pdf) == 0:
                    continue
                C_all = np.array(list(pdf["embedding"]), dtype=np.float64)
                ids_all = pdf["vec_id"].to_numpy()
                nrm_all = np.sqrt(_fold_dots(C_all * C_all))
                frames = []
                for cs in range(0, len(ids_all), csub):
                    C = C_all[cs : cs + csub]
                    c_ids = ids_all[cs : cs + csub]
                    c_nrm = nrm_all[cs : cs + csub]
                    for s in range(0, len(t_ids), sub):
                        Tm = t_mat[s : s + sub]
                        dots = _fold_dot_mat(C, Tm)
                        cos = np.floor(
                            dots / (c_nrm[:, None] * t_nrm[None, s : s + sub])
                            * scale + 0.5
                        ) / scale
                        keep = (cos >= threshold) & (
                            c_ids[:, None] < t_ids[None, s : s + sub]
                        )
                        ai, bj = np.nonzero(keep)
                        if len(ai):
                            frames.append(
                                pd.DataFrame(
                                    {
                                        "vec_a": c_ids[ai],
                                        "vec_b": t_ids[s : s + sub][bj],
                                        "cos_sim": cos[ai, bj],
                                    }
                                )
                            )
                if frames:
                    yield pd.concat(frames)

        return batches

    passes = []
    for t in range(ntiles):
        rows = tiled.filter(F.col("_tile") == t).drop("_tile").collect()
        if not rows:
            continue
        t_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        t_mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        t_nrm = np.sqrt(_fold_dots(t_mat * t_mat))
        bcast = spark.sparkContext.broadcast((t_ids, t_mat, t_nrm))
        passes.append(src.mapInPandas(_tile_pass(bcast), out_schema))
    if not passes:
        return spark.createDataFrame([], out_schema)
    return reduce(DataFrame.unionByName, passes)


# ---------------------------------------------------------------------------
# Oracle SQL twins (DuckDB)
# ---------------------------------------------------------------------------

def _sql_vec(e: str) -> str:
    return f"list_transform({e}, x -> CAST(x AS DOUBLE))"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), "
        f"(acc, x) -> acc + x)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return sql_dround(
        f"{_sql_dot(a, b)} / (SQRT({_sql_dot(a, a)}) * SQRT({_sql_dot(b, b)}))",
        6,
    )


def oracle_cosine_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 10
) -> str:
    return f"""
        WITH corpus AS (
            SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table}
        ),
        queries AS (
            SELECT vec_id AS query_id, v AS qv FROM corpus
            WHERE vec_id < {n_queries}
        ),
        scored AS (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   {_sql_cosine("q.qv", "c.v")} AS cos_sim
            FROM queries q JOIN corpus c ON c.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


# DuckDB 1.0 lacks UNNEST ... WITH ORDINALITY; emulate with a range
# unnest in the SELECT list (other columns repeat per element).
_SQL_CENTROIDS = """
withidx AS (
    SELECT CAST(label AS BIGINT) AS label, v,
           unnest(range(1, len(v) + 1)) AS i
    FROM (SELECT label, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
          FROM {table})
),
centroids AS (
    SELECT label, CAST(i - 1 AS BIGINT) AS pos,
           {avg_expr} AS val
    FROM (SELECT label, i, v[i] AS x FROM withidx)
    GROUP BY label, i
)
"""


def _sql_centroid_ctes(table: str = "embeddings") -> str:
    return _SQL_CENTROIDS.format(
        table=table, avg_expr=sql_dround(sql_money_avg("x", 8), 6)
    ).strip()


def oracle_label_centroids_sql(table: str = "embeddings") -> str:
    return f"WITH {_sql_centroid_ctes(table)}\nSELECT label, pos, val FROM centroids"


def oracle_ivf_topk_sql(
    table: str = "embeddings", n_queries: int = 5, k: int = 10, nprobe: int = 2
) -> str:
    return f"""
        WITH {_sql_centroid_ctes(table)},
        cvecs AS (
            SELECT label, list(val ORDER BY pos) AS cv
            FROM centroids GROUP BY label
        ),
        corpus AS (
            SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table}
        ),
        assigned AS (
            SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {_sql_cosine("c.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus c CROSS JOIN cvecs k
            ) WHERE rn = 1
        ),
        queries AS (
            SELECT vec_id AS query_id, v AS qv FROM corpus
            WHERE vec_id < {n_queries}
        ),
        probed AS (
            SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_sql_cosine("q.qv", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM queries q CROSS JOIN cvecs k
            ) WHERE rn <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   {_sql_cosine("p.qv", "a.v")} AS cos_sim
            FROM probed p JOIN assigned a ON p.cell = a.cell
            WHERE a.vec_id <> p.query_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def oracle_rp_lsh_sql(table: str = "embeddings", bits: int = RP_BITS) -> str:
    terms = []
    for b in range(bits):
        proj = (
            f"list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, len(v) + 1), "
            f"i -> v[i] * (CASE WHEN ((i - 1 + {b * 64}) * {RP_MULT} % {FP_MOD}) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END))), (acc, x) -> acc + x)"
        )
        terms.append(
            f"(CASE WHEN {proj} > 0 THEN CAST({1 << b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return f"""
        WITH e AS (SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table})
        SELECT vec_id, {" + ".join(terms)} AS rp_sig FROM e
    """


def oracle_embedding_near_dup_sql(
    table: str = "embeddings", threshold: float = 0.4
) -> str:
    return f"""
        WITH e AS (SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table})
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_sql_cosine("a.v", "b.v")} AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE {_sql_cosine("a.v", "b.v")} >= {threshold}
    """


def oracle_embedding_near_dup_lsh_sql(
    table: str = "embeddings",
    threshold: float = 0.4,
    bits: int = RP_BITS,
    bands: int = 2,
) -> str:
    """Same banding over the bit-identical rp signatures as the Spark
    operator — the bucket restriction is part of the semantics."""
    band_bits = bits // bands
    rp = oracle_rp_lsh_sql(table, bits).strip()
    band_selects = "\n            UNION ALL\n".join(
        f"            SELECT vec_id, {b} AS band, "
        f"(rp_sig >> {b * band_bits}) & {(1 << band_bits) - 1} AS bb FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH sig AS ({rp}),
        banded AS (
        {band_selects}
        ),
        cands AS (
            SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.bb = r.bb AND l.vec_id < r.vec_id
        ),
        e AS (SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table})
        SELECT c.vec_a, c.vec_b, {_sql_cosine("a.v", "b.v")} AS cos_sim
        FROM cands c
        JOIN e a ON c.vec_a = a.vec_id
        JOIN e b ON c.vec_b = b.vec_id
        WHERE {_sql_cosine("a.v", "b.v")} >= {threshold}
    """


# ---------------------------------------------------------------------------
# K-means refinement (one Lloyd iteration) — the iterative-algorithm
# shape: broadcast-assign, then a distributed vector mean
# ---------------------------------------------------------------------------

def kmeans_fit(
    embeddings: DataFrame, rounds: int = 2, dim: int = EMB_DIM
) -> DataFrame:
    """``rounds`` Lloyd iterations over the corpus, initialized from
    the per-label means.  Output: the final round's
    (cluster, pos, val, n_members) exploded centroid rows.

    The iterative-algorithm shape done right on Spark: the corpus
    (vec_id, v, nrm) is normalized ONCE and persisted — each round is
    exactly one pass over it (the textbook lower bound); the K-row
    centroid table is broadcast; the argmax assignment combines
    map-side (see ``_nearest_cell``).  A cluster that loses all its
    members simply drops out — deterministic in both engines.  Every
    round's means are dround(6) and tie-breaks integer-pinned, so the
    whole ITERATION is cross-engine exact: the DuckDB oracle unrolls
    the same rounds into CTEs and hash-matches.  Cache ownership
    transfers to the caller (``functions.caching.release_cached``)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
    )

    corpus = _normed(embeddings, dim).persist()
    # Rounds chain LAZILY: each round's K·dim-row centroid table is
    # referenced exactly ONCE (broadcast into the next assignment), so
    # the whole fit is a single job at the caller's action — no
    # per-round driver collect (r12's materialize-per-round cost MORE
    # than the nesting it saved: kmeans_two_round 4.66→7.84 s), and no
    # re-evaluation either (the broadcast side computes once, reading
    # the PERSISTED corpus).  Plan depth grows linearly in ``rounds``
    # (each round adds one assign+means subtree), the acceptable shape
    # for the single-digit round counts this operator runs; the
    # exponential-blowup risk needs a table referenced twice per round
    # (see links.host_authority), which this loop does not have.
    cents = _cents_norm(_centroid_vectors(embeddings), dim)
    exploded = None
    for r in range(rounds):
        assigned = _nearest_cell(corpus, cents, dim, "cluster", carry=("v",))
        exploded = _member_means(assigned, ["cluster"], "v")
        if r < rounds - 1:
            cents = _cents_norm(
                _reassemble_vec(
                    exploded, [F.col("cluster").alias("label")], "cv"
                ),
                dim,
            )
    out = exploded.orderBy("cluster", "pos")
    return attach_cached_deps(out, corpus)


def kmeans_refine(embeddings: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """One Lloyd iteration (``kmeans_fit(rounds=1)``): initialize
    centroids from the per-label means, reassign every vector by
    cosine, recompute the element-wise cluster means.  See
    ``kmeans_fit`` for the scale/determinism story."""
    return kmeans_fit(embeddings, rounds=1, dim=dim)


def oracle_kmeans_fit_sql(table: str = "embeddings", rounds: int = 2) -> str:
    """DuckDB twin of ``kmeans_fit``: the rounds unrolled into CTEs —
    same init means, same argmax tie-break, same dround(6) means."""
    sql = (
        f"WITH {_sql_centroid_ctes(table)},\n"
        f"corpus AS (SELECT vec_id, {_sql_vec('embedding')} AS v FROM {table})"
    )
    prev_means, prev_key = "centroids", "label"
    for r in range(rounds):
        sql += f""",
        cvecs{r} AS (
            SELECT {prev_key} AS label, list(val ORDER BY pos) AS cv
            FROM {prev_means} GROUP BY {prev_key}
        ),
        assigned{r} AS (
            SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {_sql_cosine("c.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus c CROSS JOIN cvecs{r} k
            ) WHERE rn = 1
        ),
        exploded{r} AS (
            SELECT CAST(cell AS BIGINT) AS cluster, v,
                   unnest(range(1, len(v) + 1)) AS i
            FROM assigned{r}
        ),
        means{r} AS (
            SELECT cluster, CAST(i - 1 AS BIGINT) AS pos,
                   {sql_dround(sql_money_avg("x", 8), 6)} AS val,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM (SELECT cluster, i, v[i] AS x FROM exploded{r})
            GROUP BY cluster, i
        )"""
        prev_means, prev_key = f"means{r}", "cluster"
    sql += (
        f"\nSELECT cluster, pos, val, n_members FROM means{rounds - 1}"
        "\nORDER BY cluster, pos"
    )
    return sql


def oracle_kmeans_refine_sql(table: str = "embeddings") -> str:
    return oracle_kmeans_fit_sql(table, rounds=1)


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    dim: int = EMB_DIM,
    tile_rows: int = 65536,
) -> DataFrame:
    """Exact k-nearest-neighbor graph: (vec_id, neighbor_id, cos_sim,
    rank) — every vector's top-k cosine neighbors, rank 1..k with the
    deterministic (cos_sim desc, neighbor_id asc) tie-break.

    The kNN graph is the substrate for embedding-space curation:
    density-based quality scoring, semantic-dedup clustering
    (SemDeDup-style), and graph-based diversity sampling all start
    from it.

    Plan: the same tiled-GEMM scan as ``embedding_near_dup_gemm``
    (hash-bounded tiles broadcast in turn, fold-ordered fp64 math,
    constant task memory), but each (corpus-chunk x tile-chunk) block
    emits only its per-row PARTIAL top-k (a stable argsort on the
    rounded cosine with the tile pre-sorted by id — chunk ties resolve
    id-ascending, so the union of chunk winners provably contains the
    global winners).  A final window merge over ~n * k * nchunks rows
    picks the true top-k.  Driver memory O(tile); shuffled rows O(n*k)
    per tile — never the O(n^2) score matrix.

    BIT-IDENTICAL cosines to the expression/GEMM operators and the
    DuckDB oracle (cumsum fold order + dround(6) before ranking)."""
    import math
    from functools import reduce

    import numpy as np

    spark = embeddings.sparkSession
    src = _drop_null_vecs(embeddings).select("vec_id", "embedding")
    n = src.count()
    ntiles = max(1, math.ceil(n / tile_rows))
    tiled = src.withColumn("_tile", F.pmod(F.xxhash64("vec_id"), F.lit(ntiles)))

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    scale = 1e6

    def _fold_dots(prod: "np.ndarray") -> "np.ndarray":
        return np.cumsum(prod, axis=-1, out=prod)[..., -1]

    def _fold_dot_mat(C: "np.ndarray", Tm: "np.ndarray") -> "np.ndarray":
        acc = np.multiply.outer(C[:, 0], Tm[:, 0])
        for kk in range(1, C.shape[1]):
            acc += np.multiply.outer(C[:, kk], Tm[:, kk])
        return acc

    def _tile_pass(bcast):
        def batches(it):
            import pandas as pd

            t_ids, t_mat, t_nrm = bcast.value
            sub = 2048
            csub = 512
            for pdf in it:
                if len(pdf) == 0:
                    continue
                C_all = np.array(list(pdf["embedding"]), dtype=np.float64)
                ids_all = pdf["vec_id"].to_numpy()
                nrm_all = np.sqrt(_fold_dots(C_all * C_all))
                frames = []
                for cs in range(0, len(ids_all), csub):
                    C = C_all[cs : cs + csub]
                    c_ids = ids_all[cs : cs + csub]
                    c_nrm = nrm_all[cs : cs + csub]
                    for s in range(0, len(t_ids), sub):
                        Tm = t_mat[s : s + sub]
                        tid = t_ids[s : s + sub]
                        dots = _fold_dot_mat(C, Tm)
                        cos = np.floor(
                            dots / (c_nrm[:, None] * t_nrm[None, s : s + sub])
                            * scale + 0.5
                        ) / scale
                        # self-pairs sink below any real cosine
                        cos[c_ids[:, None] == tid[None, :]] = -2.0
                        kk = min(k, cos.shape[1])
                        # tile slice is id-ascending; stable argsort on
                        # -cos -> ties resolve neighbor-id-ascending,
                        # matching the global merge's tie-break
                        order = np.argsort(-cos, axis=1, kind="stable")[
                            :, :kk
                        ]
                        ri = np.repeat(np.arange(cos.shape[0]), kk)
                        cj = order.ravel()
                        vals = cos[ri, cj]
                        keep = vals > -1.5
                        if keep.any():
                            frames.append(
                                pd.DataFrame(
                                    {
                                        "vec_id": c_ids[ri[keep]],
                                        "neighbor_id": tid[cj[keep]],
                                        "cos_sim": vals[keep],
                                    }
                                )
                            )
                if frames:
                    yield pd.concat(frames)

        return batches

    passes = []
    for t in range(ntiles):
        rows = tiled.filter(F.col("_tile") == t).drop("_tile").collect()
        if not rows:
            continue
        order = np.argsort(
            np.array([r["vec_id"] for r in rows], dtype=np.int64)
        )
        t_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)[order]
        t_mat = np.array([r["embedding"] for r in rows], dtype=np.float64)[
            order
        ]
        t_nrm = np.sqrt(_fold_dots(t_mat * t_mat))
        bcast = spark.sparkContext.broadcast((t_ids, t_mat, t_nrm))
        passes.append(src.mapInPandas(_tile_pass(bcast), out_schema))
    if not passes:
        return spark.createDataFrame([], out_schema)
    partials = reduce(DataFrame.unionByName, passes)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def oracle_knn_graph_sql(table: str = "embeddings", k: int = 3) -> str:
    return f"""
        WITH corpus AS (
            SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table}
        ),
        scored AS (
            SELECT a.vec_id, b.vec_id AS neighbor_id,
                   {_sql_cosine("a.v", "b.v")} AS cos_sim
            FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT vec_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bits: int = RP_BITS,
    bands: int = 2,
    dim: int = EMB_DIM,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, by
    public description): embeddings whose cosine similarity exceeds
    ``threshold`` are semantic duplicates; connected components over
    the duplicate graph form clusters; the minimum vec_id represents
    each cluster.  Output: (vec_id, cluster_id, is_kept) for EVERY
    vector (singletons keep themselves).

    Composition of two already-scale-graded stages: rp-LSH bucketed
    pair generation (pair space bounded by band collisions, never
    O(n^2)) and the min-label component machinery shared with the text
    near-dup path (driver union-find under the bounded-edge threshold,
    Pregel-style loop above it).  The corpus spine re-enters only for
    one LEFT join against the (tiny, edge-touched) label table."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        attach_cached_deps,
        carried_deps,
    )
    from retail_etl_pipeline_airflow_s3_athena_spark.operators.cluster import (
        connected_components,
    )

    # persist the (tiny) pair table: connected_components reads it from
    # both union branches — unpersisted, the band join + verify re-run
    pairs = embedding_near_dup_lsh(embeddings, threshold, bits, bands, dim).persist()
    edges = pairs.select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    cc = connected_components(edges)
    # select() drops cc's cache-ownership tag; read deps from cc itself
    comps = cc.select(F.col("doc_id").alias("vec_id"), "cluster_id")
    spine = embeddings.select("vec_id")
    out = (
        spine.join(comps, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cluster_id", F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("is_kept", F.col("vec_id") == F.col("cluster_id"))
    )
    return attach_cached_deps(
        out, *carried_deps(pairs), pairs, *carried_deps(cc)
    )


def oracle_semantic_dedup_sql(
    table: str = "embeddings",
    threshold: float = 0.4,
    bits: int = RP_BITS,
    bands: int = 2,
) -> str:
    nd = oracle_embedding_near_dup_lsh_sql(table, threshold, bits, bands)
    return f"""
        WITH RECURSIVE nd AS ({nd}),
        edges AS (
            SELECT vec_a AS src, vec_b AS dst FROM nd
            UNION ALL
            SELECT vec_b AS src, vec_a AS dst FROM nd
        ),
        walk(vec_id, label) AS (
            SELECT vec_id, vec_id FROM {table}
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.vec_id
        ),
        comp AS (
            SELECT vec_id, MIN(label) AS cluster_id FROM walk GROUP BY vec_id
        )
        SELECT vec_id, cluster_id, vec_id = cluster_id AS is_kept
        FROM comp
    """


def embedding_outliers(
    embeddings: DataFrame,
    k: int = 3,
    n_outliers: int = 20,
    dim: int = EMB_DIM,
) -> DataFrame:
    """(vec_id, mean_topk_cos): the ``n_outliers`` vectors LEAST
    similar to their own k nearest neighbors — embedding-space
    isolation scoring.  Vectors whose best neighbors are still far
    away are the mis-embedded / out-of-distribution rows a curation
    pass quarantines before clustering or retrieval indexing.

    Derived from ``knn_graph`` (tiled fold-ordered GEMM partial
    top-k): one combinable AVG over each vector's k rows, then a
    bounded TakeOrderedAndProject.  The mean is k exact doubles summed
    in rank order on both engines (ORDER-SENSITIVE: the oracle sums
    rank-ordered too), then rounded."""
    knn = knn_graph(embeddings, k, dim)
    # rank-ordered left-assoc sum: deterministic across engines
    per_vec = (
        knn.groupBy("vec_id")
        .agg(
            dround(money_avg("cos_sim", 8), 6).alias("mean_topk_cos")
        )
    )
    return per_vec.orderBy(
        F.asc("mean_topk_cos"), F.asc("vec_id")
    ).limit(n_outliers)


def oracle_embedding_outliers_sql(
    table: str = "embeddings", k: int = 3, n_outliers: int = 20
) -> str:
    knn = oracle_knn_graph_sql(table, k)
    mean = sql_dround(sql_money_avg("cos_sim", 8), 6)
    return f"""
        WITH knn AS ({knn})
        SELECT vec_id, {mean} AS mean_topk_cos
        FROM knn GROUP BY vec_id
        ORDER BY mean_topk_cos ASC, vec_id ASC
        LIMIT {n_outliers}
    """
