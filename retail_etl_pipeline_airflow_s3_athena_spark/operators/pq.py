"""Product quantization (PQ) for embedding compression and
asymmetric-distance (ADC) approximate nearest-neighbor search
(Jégou, Douze & Schmid 2011, "Product Quantization for Nearest
Neighbor Search", IEEE TPAMI).

Reference scope: the reference pipeline has no vector surface (its
analytics stop at retail SQL, scripts/athena_queries.py); PQ is the
canonical memory-side companion to the IVF routing already in
``operators/similarity.py`` — IVF prunes which vectors to score, PQ
shrinks each scored vector to M one-byte codes so a 100 TB embedding
corpus fits executor memory (64 float32 dims -> 4 codes is 64x).

Plan shape (100 TB notes):

- The corpus is exploded ONCE into (vec_id, m, sv) subvector rows
  (M narrow slices — a projection, no shuffle) and persisted for the
  Lloyd rounds; every round is one broadcast join against the
  M*K-row codebook + two map-side-combinable aggregations (the
  argmin via ``min_by`` partial-merges before the exchange, so
  shuffle volume per round is corpus*M rows of (vec_id, m, code),
  never corpus*M*K).
- Codebooks are initialized from the per-label centroid SLICES — the
  element-wise mean of a slice equals the slice of the element-wise
  mean, so the init is exactly the (deterministic, dround(6))
  ``label_centroids`` table the IVF/k-means family already
  hash-checks.
- The ADC scan is the Spark-native form of PQ search: per query a
  bounded M*K distance TABLE (not per-pair vector math) is computed
  against the codebook and broadcast; the corpus side joins its
  (m, code) pairs to the table and SUMs — squared L2 decomposes
  exactly over subspaces, so the approximate distance is one integer
  aggregation over M lookups per vector.  The corpus never moves;
  only (query x corpus) scored ROWS of 3 integers reach the top-k.
- Determinism: per-cell distances are dround(6) doubles built from a
  left-associated term chain (the ``similarity.dot`` idiom — the same
  accumulation order as DuckDB's list_reduce fold), then quantized to
  exact e6 BIGINTs; the ADC sum is therefore an EXACT integer in both
  engines, and the (distance asc, id asc) tie-breaks make codebooks,
  codes, and rankings value-hash-identical cross-engine.

The per-query top-k window is partitioned by query_id (parallelism =
|queries|, each task streaming its query's candidate rows) — the same
bounded-query contract as ``cosine_topk``; an unbounded query set
should instead route through the LSH/IVF candidate pruning first.

Each primitive is written once: here the M-way split
(``_subvectors``), the codeword argmin (``_assign``), the Lloyd
rounds (``_lloyd_rounds``), the one training entry point and model
value (``_train``) and the ADC table + ranking (``_adc_table``,
``_adc_topk``); in ``similarity`` the cell primitives (``_cents_norm``,
``_nearest_cell``, ``_probe``, ``_reassemble_vec``,
``_member_means``).  ``annindex`` serves from the same calls.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    attach_cached_deps,
    carried_deps,
    local_relation,
    materialize_model,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import (
    cents,
    sql_cents,
    sql_money_avg,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.similarity import (
    EMB_DIM,
    _as_double,
    _as_queries,
    _centroid_vectors,
    _cents_norm,
    _drop_null_vecs,
    _member_means,
    _nearest_cell,
    _normed,
    _probe,
    _query_vecs,
    _sql_centroid_ctes,
    _sql_cosine,
    _sql_vec,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import dround, sql_dround

M_SUB = 4              # subspaces
SUB_DIM = EMB_DIM // M_SUB  # dims per subspace (16)

# the (m, code, scv) codebook shape shared by the Lloyd loops
BOOKS_SCHEMA = T.StructType(
    [
        T.StructField("m", T.IntegerType(), False),
        T.StructField("code", T.IntegerType(), False),
        T.StructField("scv", T.ArrayType(T.DoubleType(), True), False),
    ]
)
PQ_ROUNDS = 2          # Lloyd rounds per subspace codebook
N_QUERIES = 5
TOP_K = 10


def _l2sq(a: Column, b: Column, dim: int = SUB_DIM) -> Column:
    """Squared L2 distance as an unrolled left-associated term chain
    (same accumulation order as the DuckDB fold; see
    ``similarity.dot``), dround(6) so the argmin compares the
    identical double in both engines."""
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, dim + 1)
    ]
    return dround(sum(terms), 6)


def _sql_l2sq(a: str, b: str) -> str:
    return sql_dround(
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, x) -> acc + x)",
        6,
    )


def _subvectors(df: DataFrame, keys: list[str], vec: Column) -> DataFrame:
    """(keys..., m, sv): ``vec`` split into M_SUB contiguous SUB_DIM
    slices — a narrow projection (explode of M struct slices), no
    shuffle."""
    entries = F.array(
        *[
            F.struct(
                F.lit(m).cast("int").alias("m"),
                F.slice(vec, m * SUB_DIM + 1, SUB_DIM).alias("sv"),
            )
            for m in range(M_SUB)
        ]
    )
    return df.select(*keys, F.explode(entries).alias("e")).select(
        *keys, F.col("e.m").alias("m"), F.col("e.sv").alias("sv")
    )


def _sub_corpus(embeddings: DataFrame) -> DataFrame:
    """(vec_id, m, sv): each vector split into M subvectors."""
    return _subvectors(
        _drop_null_vecs(embeddings), ["vec_id"], _as_double(F.col("embedding"))
    )


def _assign(sub: DataFrame, books: DataFrame) -> DataFrame:
    """(vec_id, m, code, sv): nearest codeword per subvector.  The
    M*K scored candidates per (vec_id, m) collapse map-side —
    ``min_by`` over the (distance, code) struct partial-merges before
    the exchange, and the struct comparison pins the (d asc, code asc)
    tie-break identically to the oracle's ROW_NUMBER ordering."""
    return (
        sub.join(F.broadcast(books), "m")
        .select(
            "vec_id", "m", "sv", "code",
            _l2sq(F.col("sv"), F.col("scv")).alias("d"),
        )
        .groupBy("vec_id", "m")
        .agg(
            F.min_by(F.col("code"), F.struct("d", "code")).alias("code"),
            F.first("sv").alias("sv"),
        )
    )


def _lloyd_rounds(
    sub: DataFrame, books: DataFrame, rounds: int
) -> tuple[DataFrame, list, T.StructType]:
    """``rounds`` Lloyd rounds over the (vec_id, m, sv) subvector
    corpus from the (m, code, scv) ``books``.  Returns (final books,
    the last round's (m, code, pos, val, n_members) mean rows, their
    schema).

    Each round is ONE bounded job: the corpus assign + mean aggregation
    is collected (M*K*SUB_DIM rows) and the next books are reassembled
    from those rows at the driver (sort by pos — exactly
    ``_reassemble_vec``'s array_sort on unique pos, so the values are
    bit-identical) and re-emitted as a driver-LOCAL relation.
    Consumers that reference the books several times (ADC distance
    table + code assignment) then never re-evaluate the training chain
    — before, ivf_pq_topk's physical plan carried 86 Exchange nodes of
    duplicated Lloyd subtree (plans/r12/ivf_pq_topk_before.txt).  This
    is the opposite strategy to ``similarity.kmeans_fit``, whose K-row
    centroid table is referenced once per round and chains lazily; the
    round body (argmin assign, ``_member_means``) is the same shape."""
    spark = sub.sparkSession
    for _ in range(rounds):
        means_plan = _member_means(_assign(sub, books), ["m", "code"], "sv")
        rows = means_plan.collect()
        by_mc: dict[tuple, list] = {}
        for r in rows:
            by_mc.setdefault((r["m"], r["code"]), []).append(
                (r["pos"], r["val"])
            )
        books = local_relation(
            spark,
            [
                (m, code, [v for _, v in sorted(pv)])
                for (m, code), pv in sorted(by_mc.items())
            ],
            BOOKS_SCHEMA,
        )
    return books, rows, means_plan.schema


def _train(embeddings: DataFrame, rounds: int) -> tuple:
    """The one IVF-PQ training entry point.  Returns the model
    ``(sub, books, means, cents_vec)``:

    - ``sub``: the PERSISTED (vec_id, m, sv) subvector corpus;
      ownership passes to the caller (``attach_cached_deps`` or
      ``unpersist``);
    - ``books``: the final (m, code, scv) codebooks;
    - ``means``: the final round's (m, code, pos, val, n_members)
      exploded rows;
    - ``cents_vec``: the (label, cv) coarse IVF centroids.

    ``cents_vec``, ``books`` and ``means`` are driver-LOCAL relations
    (``materialize_model``; ``_lloyd_rounds``).  ONE corpus centroid
    aggregation serves the codebook init (per-subspace slices of the
    per-label centroids — slice of the mean == mean of the slice, so
    this is exactly ``label_centroids`` restated), the coarse cell
    assignment and the probe scoring.  Training is deterministic
    (dround(6) means, pinned tie-breaks), so a caller that trains once
    and hands the model to several consumers gets bit-identical
    results to retraining per consumer."""
    if rounds < 1:
        raise ValueError(
            f"rounds={rounds}: PQ training needs at least one Lloyd "
            "round (the init codebooks have no membership counts)"
        )
    cents_vec = materialize_model(_centroid_vectors(embeddings))
    init = _subvectors(
        cents_vec.select(F.col("label").cast("int").alias("code"), "cv"),
        ["code"], F.col("cv"),
    ).withColumnRenamed("sv", "scv")
    sub = _sub_corpus(embeddings).persist()
    books, rows, schema = _lloyd_rounds(sub, init, rounds)
    means = local_relation(embeddings.sparkSession, rows, schema)
    return sub, books, means, cents_vec


def _adc_table(
    q_sub: DataFrame, books: DataFrame, keys: tuple[str, ...] = ("query_id",)
) -> DataFrame:
    """(keys..., m, code, pd_e6): per query subvector, the exact e6
    squared-L2 distance to every codeword of its subspace — the bounded
    ADC lookup table its consumers broadcast."""
    return q_sub.join(F.broadcast(books), "m").select(
        *keys, "m", "code",
        cents(_l2sq(F.col("sv"), F.col("scv")), 6).alias("pd_e6"),
    )


def _adc_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, adc_e6, rank) from (query_id, vec_id,
    pd_e6) lookup rows: the approximate squared L2 is the exact BIGINT
    sum of a candidate's M lookups (squared L2 decomposes over
    subspaces); each query keeps its k smallest under the pinned (adc
    asc, neighbor asc) tie-break."""
    scored = pairs.groupBy(
        "query_id", F.col("vec_id").alias("neighbor_id")
    ).agg(F.sum("pd_e6").alias("adc_e6"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_e6"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_e6", "rank")
    )


def corpus_queries(embeddings: DataFrame, n_queries: int = N_QUERIES) -> DataFrame:
    """The pq-family calibration query set: the first ``n_queries``
    corpus vectors as (query_id, embedding); self-matches are excluded
    by every consumer."""
    return embeddings.filter(
        F.col("vec_id") < n_queries
    ).select(F.col("vec_id").alias("query_id"), "embedding")


def pq_codebooks(embeddings: DataFrame, rounds: int = PQ_ROUNDS) -> DataFrame:
    """The trained codebooks, exploded: (m, code, pos, val,
    n_members).  Bounded output: M * K * SUB_DIM rows."""
    sub, _, means, _ = _train(embeddings, rounds)
    return attach_cached_deps(means.orderBy("m", "code", "pos"), sub)


def pq_codes(embeddings: DataFrame, rounds: int = PQ_ROUNDS) -> DataFrame:
    """(vec_id, codes): each vector's M codeword ids in subspace
    order — the compressed representation (M bytes/vector at K<=256;
    the 100 TB memory story).  One more assignment pass against the
    trained books."""
    sub, books, _, _ = _train(embeddings, rounds)
    out = (
        _assign(sub, books)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s.code,
            ).alias("codes")
        )
        .orderBy("vec_id")
    )
    return attach_cached_deps(out, sub)


def pq_topk(
    embeddings: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    rounds: int = PQ_ROUNDS,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_e6, rank) — each
    query's k nearest corpus vectors under the PQ approximation.

    Per query, the distance to every codeword is precomputed as an
    exact e6 integer (a bounded n_queries * M * K table, broadcast);
    the corpus contributes only its (vec_id, m, code) rows
    (``_adc_table`` / ``_adc_topk``)."""
    sub, books, _, _ = _train(embeddings, rounds)
    codes = _assign(sub, books).select("vec_id", "m", "code")
    dist_table = _adc_table(
        sub.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"), "m", "sv"
        ),
        books,
    )
    out = _adc_topk(
        codes.join(F.broadcast(dist_table), ["m", "code"]).filter(
            F.col("vec_id") != F.col("query_id")
        ),
        k,
    )
    return attach_cached_deps(out, sub)


def pq_recall(
    embeddings: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    rounds: int = PQ_ROUNDS,
) -> DataFrame:
    """ANN quality evaluation: (query_id, k, n_hits, recall_e6) —
    recall@k of the ADC scan against the EXACT scan on the same
    subspace-decomposed integer distance grid
    (``exact_subspace_topk_for``; the ADC approximation replaces v_m by
    its codeword, so n_hits isolates pure quantization error — no
    metric or rounding confound).

    The eval harness every ANN deployment needs before trusting
    pq/ivf_pq at serving time: recall collapses (codebook drift, bad
    M/K for the embedding family) show up here as integers, not as
    silently-worse retrieval.  Exact scan cost is bounded by the
    n_queries broadcast (the ``cosine_topk`` contract: calibration
    query sets are small by construction; the corpus side stays one
    linear pass).  Deterministic end-to-end: both rankings use the
    pinned (distance asc, neighbor asc) tie-break."""
    approx = pq_topk(embeddings, n_queries, k, rounds)
    hits = approx.select("query_id", "neighbor_id", F.lit(1).alias("_hit"))
    exact_topk = exact_subspace_topk_for(
        embeddings, corpus_queries(embeddings, n_queries), k
    )
    out = (
        exact_topk.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_hit").alias("n_hits"))
        .select(
            "query_id",
            F.lit(int(k)).cast("long").alias("k"),
            "n_hits",
            F.expr(f"n_hits * 1000000 div {int(k)}").alias("recall_e6"),
        )
        .orderBy("query_id")
    )
    return attach_cached_deps(out, *carried_deps(approx))


def ivf_pq_topk(
    embeddings: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    nprobe: int = 2,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
) -> DataFrame:
    """IVF-PQ: coarse IVF routing composed with the PQ ADC scan — the
    canonical billion-scale ANN serving stack (FAISS IVFPQ; Jégou et
    al. 2011 §V).  Each query probes its ``nprobe`` nearest cells and
    ADC-scores ONLY the vectors routed there: at K cells the scan
    touches ~nprobe/K of the code table, and the codes are M bytes per
    vector — the two reductions multiply.

    This is the non-residual composition (codebooks trained on raw
    vectors, shared with ``pq_codebooks``): residual encoding — PQ on
    ``v - centroid(cell)`` — is the FAISS refinement that improves
    recall but changes only the codebook input frame, not the plan
    shape; the routing/pruning structure graded here is identical.

    ``ivf_pq_topk_for`` over the vec_id < n_queries calibration set
    (``corpus_queries``)."""
    return ivf_pq_topk_for(
        embeddings, corpus_queries(embeddings, n_queries), k, nprobe,
        rounds, dim,
    )


def ivf_pq_topk_for(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = 2,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
    model: tuple | None = None,
) -> DataFrame:
    """IVF-PQ top-k for an EXPLICIT (query_id, embedding) query set —
    the evaluator shape ``annindex.ann_index_staleness`` needs, where
    the calibration queries come from an appended batch whose ids are
    shifted out of the founding range.  Self-matches (query_id equal
    to a corpus vec_id) are excluded.

    Plan: cells are the ``similarity._nearest_cell`` argmax over the
    broadcast coarse centroids; candidates are the (query_id, vec_id)
    pairs from a broadcast join of the bounded ``similarity._probe``
    cell list against the cell table; the score is the exact-integer
    ``_adc_topk`` over the ``_adc_table`` lookups.

    ``model`` is an optional pre-trained ``_train`` model over THESE
    embeddings with THESE rounds: a maintenance loop that both
    measures freshness and rebuilds trains ONCE and passes it here.
    Ownership of the persisted ``sub`` then stays with the caller (not
    tagged on the result)."""
    own_deps: tuple = ()
    if model is None:
        model = _train(embeddings, rounds)
        own_deps = (model[0],)
    sub, books, _, cents_vec = model
    codes = _assign(sub, books).select("vec_id", "m", "code")
    coarse = _cents_norm(cents_vec, dim)
    cells = _nearest_cell(_normed(embeddings, dim), coarse, dim)
    q = _query_vecs(queries, dim)
    cand = (
        cells.join(F.broadcast(_probe(q, coarse, nprobe, dim)), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    dist_table = _adc_table(_subvectors(q, ["query_id"], F.col("qv")), books)
    out = _adc_topk(
        codes.join(cand, "vec_id").join(
            F.broadcast(dist_table), ["query_id", "m", "code"]
        ),
        k,
    )
    return attach_cached_deps(out, *own_deps)


def exact_subspace_topk_for(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
) -> DataFrame:
    """Exact top-k on the subspace-decomposed integer distance grid
    (exact d = Σ_m cents(l2sq(q_m, v_m), 6)) for an explicit
    (query_id, embedding) query set — the ground truth both
    ``pq_recall`` and ``annindex.ann_index_staleness`` rank against.
    Self-matches excluded; (d asc, neighbor asc) pinned."""
    sub = _sub_corpus(embeddings)
    q = _sub_corpus(
        queries.select(F.col("query_id").alias("vec_id"), "embedding")
    ).select(F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qv"))
    exact_scored = (
        sub.join(F.broadcast(q), "m")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(cents(_l2sq(F.col("qv"), F.col("sv")), 6)).alias("d_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d_e6"), F.asc("neighbor_id")
    )
    return (
        exact_scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle twins: the Lloyd rounds unrolled into CTEs, same init,
# same dround(6) means, same (d asc, code asc) tie-breaks.
# ---------------------------------------------------------------------------

def _sql_train_ctes(table: str, rounds: int) -> tuple[str, str]:
    """Shared CTE chain; returns (sql, final_books_cte_name)."""
    sql = f"""WITH {_sql_centroid_ctes(table)},
        cvecs AS (
            SELECT CAST(label AS INT) AS code, list(val ORDER BY pos) AS cv
            FROM centroids GROUP BY label
        ),
        subspaces AS (SELECT CAST(unnest(range({M_SUB})) AS INT) AS m),
        books0 AS (
            SELECT s.m, c.code,
                   c.cv[s.m * {SUB_DIM} + 1 : (s.m + 1) * {SUB_DIM}] AS scv
            FROM cvecs c CROSS JOIN subspaces s
        ),
        corpus AS (
            SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table}
            WHERE embedding IS NOT NULL
        ),
        subcorpus AS (
            SELECT c.vec_id, s.m,
                   c.v[s.m * {SUB_DIM} + 1 : (s.m + 1) * {SUB_DIM}] AS sv
            FROM corpus c CROSS JOIN subspaces s
        )"""
    books = "books0"
    for r in range(rounds):
        sql += f""",
        assigned{r} AS (
            SELECT vec_id, m, sv, code FROM (
                SELECT c.vec_id, c.m, c.sv, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM subcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        means{r} AS (
            SELECT m, code, CAST(i - 1 AS BIGINT) AS pos,
                   {sql_dround(sql_money_avg("x", 8), 6)} AS val,
                   CAST(COUNT(*) AS BIGINT) AS n_members
            FROM (
                SELECT m, code, i, sv[i] AS x FROM (
                    SELECT m, code, sv,
                           unnest(range(1, len(sv) + 1)) AS i
                    FROM assigned{r})
            )
            GROUP BY m, code, i
        ),
        books{r + 1} AS (
            SELECT m, code, list(val ORDER BY pos) AS scv
            FROM means{r} GROUP BY m, code
        )"""
        books = f"books{r + 1}"
    return sql, books


def oracle_pq_codebooks_sql(table: str = "embeddings", rounds: int = PQ_ROUNDS) -> str:
    sql, _ = _sql_train_ctes(table, rounds)
    return (
        sql
        + f"\nSELECT m, code, pos, val, n_members FROM means{rounds - 1}"
        + "\nORDER BY m, code, pos"
    )


def oracle_pq_codes_sql(table: str = "embeddings", rounds: int = PQ_ROUNDS) -> str:
    sql, books = _sql_train_ctes(table, rounds)
    return (
        sql
        + f""",
        final_assigned AS (
            SELECT vec_id, m, code FROM (
                SELECT c.vec_id, c.m, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM subcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        )
        SELECT vec_id, list(code ORDER BY m) AS codes
        FROM final_assigned GROUP BY vec_id ORDER BY vec_id"""
    )


def _sql_topk_ctes(
    table: str,
    n_queries: int,
    k: int,
    rounds: int,
) -> str:
    """Training chain + the ADC scan CTEs, ending at ``ranked`` —
    shared by the pq_topk oracle and the recall evaluator's."""
    sql, books = _sql_train_ctes(table, rounds)
    return (
        sql
        + f""",
        final_assigned AS (
            SELECT vec_id, m, code FROM (
                SELECT c.vec_id, c.m, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM subcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        dist_table AS (
            SELECT c.vec_id AS query_id, c.m, k.code,
                   {sql_cents(_sql_l2sq("c.sv", "k.scv"), 6)} AS pd_e6
            FROM subcorpus c JOIN {books} k ON c.m = k.m
            WHERE c.vec_id < {n_queries}
        ),
        scored AS (
            SELECT d.query_id, a.vec_id AS neighbor_id,
                   CAST(SUM(d.pd_e6) AS BIGINT) AS adc_e6
            FROM final_assigned a
            JOIN dist_table d ON a.m = d.m AND a.code = d.code
            WHERE a.vec_id <> d.query_id
            GROUP BY d.query_id, a.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY adc_e6 ASC, neighbor_id ASC) AS rank
            FROM scored
        )"""
    )


def oracle_pq_topk_sql(
    table: str = "embeddings",
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    rounds: int = PQ_ROUNDS,
) -> str:
    return (
        _sql_topk_ctes(table, n_queries, k, rounds)
        + f"""
        SELECT query_id, neighbor_id, adc_e6, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}"""
    )


def oracle_pq_recall_sql(
    table: str = "embeddings",
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    rounds: int = PQ_ROUNDS,
) -> str:
    d_e6 = sql_cents(_sql_l2sq("q.sv", "c.sv"), 6)
    return (
        _sql_topk_ctes(table, n_queries, k, rounds)
        + f""",
        approx AS (
            SELECT query_id, neighbor_id FROM ranked WHERE rank <= {k}
        ),
        exact_scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(SUM({d_e6}) AS BIGINT) AS d_e6
            FROM subcorpus q
            JOIN subcorpus c ON q.m = c.m AND c.vec_id <> q.vec_id
            WHERE q.vec_id < {n_queries}
            GROUP BY q.vec_id, c.vec_id
        ),
        exact_ranked AS (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY d_e6 ASC, neighbor_id ASC) AS rk
            FROM exact_scored
        )
        SELECT e.query_id,
               CAST({k} AS BIGINT)                AS k,
               CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
               CAST(COUNT(a.neighbor_id) * 1000000 // {k} AS BIGINT)
                   AS recall_e6
        FROM exact_ranked e
        LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        WHERE e.rk <= {k}
        GROUP BY e.query_id
        ORDER BY e.query_id"""
    )


def oracle_ivf_pq_topk_sql(
    table: str = "embeddings",
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    nprobe: int = 2,
    rounds: int = PQ_ROUNDS,
    query_pred: str | None = None,
    cand_pred: str | None = None,
) -> str:
    """``query_pred`` (an expression template with ``{a}`` for the
    row alias) overrides the default ``vec_id < n_queries``
    calibration-set convention — used by the staleness evaluator,
    whose queries are appended-batch ids outside the founding range.
    ``cand_pred`` (template with ``{c}`` for the candidate alias)
    additionally restricts the CANDIDATE set only — training, cells,
    and probing still see every vector, exactly the tombstone-delete
    semantics of the persisted index (r11): deleted vectors stop
    surfacing as neighbors without a retrain."""
    if query_pred is None:
        query_pred = f"{{a}}.vec_id < {n_queries}"
    cand_extra = (
        f" AND ({cand_pred.format(c='c')})" if cand_pred else ""
    )
    sql, books = _sql_train_ctes(table, rounds)
    return (
        sql
        + f""",
        final_assigned AS (
            SELECT vec_id, m, code FROM (
                SELECT c.vec_id, c.m, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM subcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        fullvecs AS (SELECT code AS label, cv FROM cvecs),
        cells AS (
            SELECT vec_id, cell FROM (
                SELECT c.vec_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {_sql_cosine("c.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus c CROSS JOIN fullvecs k
            ) WHERE rn = 1
        ),
        probed AS (
            SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_sql_cosine("q.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus q CROSS JOIN fullvecs k
                WHERE {query_pred.format(a="q")}
            ) WHERE rn <= {nprobe}
        ),
        cand AS (
            SELECT p.query_id, c.vec_id
            FROM cells c JOIN probed p ON c.cell = p.cell
            WHERE c.vec_id <> p.query_id{cand_extra}
        ),
        dist_table AS (
            SELECT c.vec_id AS query_id, c.m, k.code,
                   {sql_cents(_sql_l2sq("c.sv", "k.scv"), 6)} AS pd_e6
            FROM subcorpus c JOIN {books} k ON c.m = k.m
            WHERE {query_pred.format(a="c")}
        ),
        scored AS (
            SELECT cd.query_id, a.vec_id AS neighbor_id,
                   CAST(SUM(d.pd_e6) AS BIGINT) AS adc_e6
            FROM final_assigned a
            JOIN cand cd ON a.vec_id = cd.vec_id
            JOIN dist_table d
              ON d.query_id = cd.query_id AND a.m = d.m AND a.code = d.code
            GROUP BY cd.query_id, a.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY adc_e6 ASC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, adc_e6, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}"""
    )


def ivf_pq_residual_topk(
    embeddings: DataFrame,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    nprobe: int = 2,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (FAISS IVFPQ proper; Jégou et
    al. 2011 §V.B): codebooks are trained on ``v - centroid(cell(v))``
    and the ADC table is built per (query, probed cell) from the
    query's residual against that cell — the refinement that closes
    the recall gap of the non-residual composition (``ivf_pq_topk``),
    because residuals concentrate near the origin and the M*K
    codewords spend their capacity on the within-cell structure
    instead of re-encoding the coarse geometry.

    Same plan skeleton as ``ivf_pq_topk`` — the changes are frame-
    only, exactly as its docstring predicted: the subvector corpus is
    the residual corpus (one extra broadcast join against the K-row
    centroid table, still a narrow projection), codebooks seed from
    the residuals of the K lowest vec_ids (deterministic spread; the
    label-centroid seed is useless here since per-label residual
    means are ~0 by construction), and the broadcast distance table
    grows from n_q*M*K to n_q*nprobe*M*K rows — still bounded by
    constants.  Candidate generation, the exact-integer ADC sum, and
    the (adc asc, id asc) ranking are unchanged.
    """
    corpus = _normed(embeddings, dim)
    # K-row bounded table, materialized as a local relation: the five
    # downstream references (cells, residual corpus, probe scoring,
    # residual ADC table) share one evaluation and the plan stops
    # reprinting the centroid-aggregation subtree.  The collect that
    # builds the relation also yields K — the r12 shape paid a
    # separate count action for it.
    coarse_plan = _cents_norm(_centroid_vectors(embeddings), dim)
    coarse_rows = coarse_plan.collect()
    coarse = local_relation(
        embeddings.sparkSession, coarse_rows, coarse_plan.schema
    )
    n_codes = len(coarse_rows)
    cell_cv = F.broadcast(coarse.select(F.col("label").alias("cell"), "cv"))
    # persisted: cells feeds BOTH the residual corpus and candidate
    # generation — unpersisted, the corpus x K scoring scan would
    # execute twice (a second full corpus pass at 100 TB)
    cells = _nearest_cell(corpus, coarse, dim).persist()
    # residual subvector corpus: r = v - cv(cell), sliced into M parts
    rsub = _subvectors(
        corpus.join(cells, "vec_id")
        .join(cell_cv, "cell")
        .select(
            "vec_id", "cell",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("r"),
        ),
        ["vec_id", "cell"], F.col("r"),
    ).persist()
    # Seed books materialized (K*M rows; the collect also materializes
    # the persisted rsub cache), then the `_train` Lloyd rounds on the
    # residual frame, so the codes assignment and the ADC distance
    # table below stop re-evaluating the training chain.
    plain = rsub.select("vec_id", "m", "sv")
    books, _, _ = _lloyd_rounds(
        plain,
        materialize_model(
            rsub.filter(F.col("vec_id") < n_codes)
            .select("m", F.col("vec_id").cast("int").alias("code"),
                    F.col("sv").alias("scv"))
        ),
        rounds,
    )
    codes = _assign(plain, books).select("vec_id", "m", "code")

    queries = _as_queries(corpus.filter(F.col("vec_id") < n_queries))
    probed = _probe(queries, coarse, nprobe, dim)
    # per-(query, probed cell) residual ADC table — n_q*nprobe*M*K rows
    dist_table = _adc_table(
        _subvectors(
            probed.join(queries, "query_id")
            .join(cell_cv, "cell")
            .select(
                "query_id", "cell",
                F.zip_with("qv", "cv", lambda a, b: a - b).alias("rq"),
            ),
            ["query_id", "cell"], F.col("rq"),
        ),
        books,
        ("query_id", "cell"),
    )
    cand = (
        cells.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "cell")
    )
    out = _adc_topk(
        codes.join(cand, "vec_id").join(
            F.broadcast(dist_table), ["query_id", "cell", "m", "code"]
        ),
        k,
    )
    return attach_cached_deps(out, rsub, cells)


def oracle_ivf_pq_residual_topk_sql(
    table: str = "embeddings",
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    nprobe: int = 2,
    rounds: int = PQ_ROUNDS,
) -> str:
    rminus = (
        "list_transform(range(1, len({a}) + 1), i -> {a}[i] - {b}[i])"
    )
    sql = f"""WITH {_sql_centroid_ctes(table)},
        cvecs AS (
            SELECT CAST(label AS INT) AS code, list(val ORDER BY pos) AS cv
            FROM centroids GROUP BY label
        ),
        subspaces AS (SELECT CAST(unnest(range({M_SUB})) AS INT) AS m),
        corpus AS (
            SELECT vec_id, {_sql_vec("embedding")} AS v FROM {table}
            WHERE embedding IS NOT NULL
        ),
        fullvecs AS (SELECT code AS label, cv FROM cvecs),
        nlabels AS (SELECT COUNT(*) AS kk FROM cvecs),
        cells AS (
            SELECT vec_id, cell FROM (
                SELECT c.vec_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {_sql_cosine("c.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus c CROSS JOIN fullvecs k
            ) WHERE rn = 1
        ),
        rcorp AS (
            SELECT c.vec_id, s.cell,
                   {rminus.format(a="c.v", b="k.cv")} AS r
            FROM corpus c
            JOIN cells s ON c.vec_id = s.vec_id
            JOIN fullvecs k ON k.label = s.cell
        ),
        rsubcorpus AS (
            SELECT c.vec_id, c.cell, s.m,
                   c.r[s.m * {SUB_DIM} + 1 : (s.m + 1) * {SUB_DIM}] AS sv
            FROM rcorp c CROSS JOIN subspaces s
        ),
        rbooks0 AS (
            SELECT m, CAST(vec_id AS INT) AS code, sv AS scv
            FROM rsubcorpus WHERE vec_id < (SELECT kk FROM nlabels)
        )"""
    books = "rbooks0"
    for r in range(rounds):
        sql += f""",
        rassigned{r} AS (
            SELECT vec_id, m, sv, code FROM (
                SELECT c.vec_id, c.m, c.sv, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM rsubcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        rmeans{r} AS (
            SELECT m, code, CAST(i - 1 AS BIGINT) AS pos,
                   {sql_dround(sql_money_avg("x", 8), 6)} AS val
            FROM (
                SELECT m, code, i, sv[i] AS x FROM (
                    SELECT m, code, sv,
                           unnest(range(1, len(sv) + 1)) AS i
                    FROM rassigned{r})
            )
            GROUP BY m, code, i
        ),
        rbooks{r + 1} AS (
            SELECT m, code, list(val ORDER BY pos) AS scv
            FROM rmeans{r} GROUP BY m, code
        )"""
        books = f"rbooks{r + 1}"
    return (
        sql
        + f""",
        final_codes AS (
            SELECT vec_id, m, code FROM (
                SELECT c.vec_id, c.m, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM rsubcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        probed AS (
            SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_sql_cosine("q.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus q CROSS JOIN fullvecs k
                WHERE q.vec_id < {n_queries}
            ) WHERE rn <= {nprobe}
        ),
        rqsub AS (
            SELECT p.query_id, p.cell, s.m,
                   ({rminus.format(a="q.v", b="k.cv")})
                       [s.m * {SUB_DIM} + 1 : (s.m + 1) * {SUB_DIM}] AS sv
            FROM probed p
            JOIN corpus q ON q.vec_id = p.query_id
            JOIN fullvecs k ON k.label = p.cell
            CROSS JOIN subspaces s
        ),
        dist_table AS (
            SELECT r.query_id, r.cell, r.m, k.code,
                   {sql_cents(_sql_l2sq("r.sv", "k.scv"), 6)} AS pd_e6
            FROM rqsub r JOIN {books} k ON r.m = k.m
        ),
        cand AS (
            SELECT p.query_id, c.vec_id, c.cell
            FROM cells c JOIN probed p ON c.cell = p.cell
            WHERE c.vec_id <> p.query_id
        ),
        scored AS (
            SELECT cd.query_id, a.vec_id AS neighbor_id,
                   CAST(SUM(d.pd_e6) AS BIGINT) AS adc_e6
            FROM final_codes a
            JOIN cand cd ON a.vec_id = cd.vec_id
            JOIN dist_table d
              ON d.query_id = cd.query_id AND d.cell = cd.cell
             AND d.m = a.m AND d.code = a.code
            GROUP BY cd.query_id, a.vec_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY adc_e6 ASC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, adc_e6, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}"""
    )


# ---------------------------------------------------------------------------
# SDC near-dup: symmetric distance computation over compressed codes
# (Jégou et al. 2011 §III.A) — corpus-level near-duplicate detection
# that never touches a raw vector after encoding (r8).
# ---------------------------------------------------------------------------

SDC_THRESHOLD_E6 = 100_000  # sum of per-subspace codeword l2sq, e6
# (0.1 squared-L2: below the fixture clusters' ~0.38 median within-cell
# SDC, so only genuinely-close pairs survive — ~1%% of cellmates)


def pq_sdc_near_dup(
    embeddings: DataFrame,
    threshold_e6: int = SDC_THRESHOLD_E6,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
) -> DataFrame:
    """(id_a, id_b, sdc_e6): same-IVF-cell vector pairs whose
    SYMMETRIC PQ distance — Σ_m l2sq(codeword(a,m), codeword(b,m)),
    exact e6 integers — is within ``threshold_e6``.

    The 100 TB story: after encoding, near-dup detection runs on
    M bytes/vector + one M·K² broadcast codeword-distance table; raw
    embeddings are never re-read.  Blocking is the IVF cell (the same
    partition key the serving index uses), so pair enumeration is
    within-cell only — the standard blocking trade (quadratic in cell
    size, linear in cells), with the cell count K chosen so cells fit
    the pair budget.  Everything after the one cellmate join is a
    broadcast lookup + combinable SUM.

    SDC vs ADC: both engines compute the identical exact-integer
    table, so the gate is hash-exact; accuracy-wise SDC adds the
    query-side quantization error (Jégou §III.A) — right for
    corpus×corpus dedup where neither side has a raw vector."""
    sub, books, _, cents_vec = _train(embeddings, rounds)
    # persisted: the pair scoring references codes twice (both pair
    # sides) — unpersisted, the codeword assignment over the corpus
    # would run twice
    codes = _assign(sub, books).select("vec_id", "m", "code").persist()
    # persisted: the self-join below references cells twice; without
    # the persist the corpus x K cell scoring would run twice
    cells = _nearest_cell(
        _normed(embeddings, dim), _cents_norm(cents_vec, dim), dim
    ).persist()
    b1, b2 = books.alias("b1"), books.alias("b2")
    sdc = b1.join(b2, F.col("b1.m") == F.col("b2.m")).select(
        F.col("b1.m").alias("m"),
        F.col("b1.code").alias("code_a"),
        F.col("b2.code").alias("code_b"),
        cents(_l2sq(F.col("b1.scv"), F.col("b2.scv")), 6).alias("d_e6"),
    )
    ca, cb = cells.alias("ca"), cells.alias("cb")
    mates = ca.join(
        cb,
        (F.col("ca.cell") == F.col("cb.cell"))
        & (F.col("ca.vec_id") < F.col("cb.vec_id")),
    ).select(
        F.col("ca.vec_id").alias("id_a"),
        F.col("cb.vec_id").alias("id_b"),
    )
    qa = codes.select(
        F.col("vec_id").alias("id_a"), "m",
        F.col("code").alias("code_a"),
    )
    qb = codes.select(
        F.col("vec_id").alias("id_b"), "m",
        F.col("code").alias("code_b"),
    )
    out = (
        mates.join(qa, "id_a")
        .join(qb, ["id_b", "m"])
        .join(F.broadcast(sdc), ["m", "code_a", "code_b"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("d_e6").alias("sdc_e6"))
        .filter(F.col("sdc_e6") <= threshold_e6)
    )
    return attach_cached_deps(out, sub, cells, codes)


def oracle_pq_sdc_near_dup_sql(
    table: str = "embeddings",
    threshold_e6: int = SDC_THRESHOLD_E6,
    rounds: int = PQ_ROUNDS,
) -> str:
    sql, books = _sql_train_ctes(table, rounds)
    return (
        sql
        + f""",
        final_assigned AS (
            SELECT vec_id, m, code FROM (
                SELECT c.vec_id, c.m, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM subcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        fullvecs AS (SELECT code AS label, cv FROM cvecs),
        cells AS (
            SELECT vec_id, cell FROM (
                SELECT c.vec_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {_sql_cosine("c.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM corpus c CROSS JOIN fullvecs k
            ) WHERE rn = 1
        ),
        sdc AS (
            SELECT a.m, a.code AS code_a, b.code AS code_b,
                   {sql_cents(_sql_l2sq("a.scv", "b.scv"), 6)} AS d_e6
            FROM {books} a JOIN {books} b ON a.m = b.m
        ),
        mates AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        )
        SELECT m2.id_a, m2.id_b, CAST(SUM(s.d_e6) AS BIGINT) AS sdc_e6
        FROM mates m2
        JOIN final_assigned fa ON fa.vec_id = m2.id_a
        JOIN final_assigned fb
          ON fb.vec_id = m2.id_b AND fb.m = fa.m
        JOIN sdc s
          ON s.m = fa.m AND s.code_a = fa.code AND s.code_b = fb.code
        GROUP BY m2.id_a, m2.id_b
        HAVING CAST(SUM(s.d_e6) AS BIGINT) <= {threshold_e6}"""
    )
