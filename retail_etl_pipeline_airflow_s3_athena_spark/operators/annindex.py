"""Persisted ANN index: train once, query forever (r7 verdict #6).

The PQ/IVF family in ``operators/pq.py`` retrains per call — right
for gate determinism, wrong for serving: at 100 TB the index is
built by an offline job and then queried by thousands of online
calls that must never pay a Lloyd round.  This module adds the
serving discipline:

- ``write_ann_index(embeddings, path)``: one ``pq._train`` model
  (the value ``pq.ivf_pq_topk_for`` trains) and the shared
  ``similarity._nearest_cell`` coarse assignment, persisted as three
  parquet tables under ``path``:

  * ``centroids/``  — (label, pos, val): coarse IVF centroids,
    exploded to scalars (K·dim rows — tiny).
  * ``codebooks/``  — (m, code, pos, val): PQ codebooks
    (M·K·sub_dim rows — tiny).
  * ``codes/``      — (vec_id, m, code) **partitioned by cell**:
    the compressed corpus.  Partitioning by the IVF cell makes the
    probe a PARTITION-PRUNED scan — a query touching nprobe of K
    cells reads nprobe/K of the files, enforced by the plan test
    (``PartitionFilters`` present, no full scan).

- ``ann_query(spark, path, ...)``: plans the ADC top-k against the
  PERSISTED tables.  Zero training stages: centroids and codebooks
  are two bounded parquet reads (broadcast), the probe list
  (``similarity._probe``) is a driver-side literal IN-filter
  (n_queries·nprobe values — the collect is bounded by the
  calibration-query contract), and the scan+score is
  ``pq._adc_table`` + ``pq._adc_topk`` — the calls
  ``pq.ivf_pq_topk_for`` makes — so ``write_ann_index`` →
  ``ann_query`` reproduces ``ivf_pq_topk`` bit-for-bit: the gate
  entry's oracle IS the ivf_pq_topk twin.

Determinism carries through parquet: codebook/centroid values are
dround(6) doubles (exact binary round-trip), codes and cells are
integers, and every tie-break is pinned upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    attach_cached_deps,
    carried_deps,
    local_relation,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import hadoop_fs, swap_dir
from retail_etl_pipeline_airflow_s3_athena_spark.functions.jobs import (
    observed_count,
    run_jobs,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.money import sql_cents
from retail_etl_pipeline_airflow_s3_athena_spark.operators.pq import (
    M_SUB,
    PQ_ROUNDS,
    SUB_DIM,
    _adc_table,
    _adc_topk,
    _assign,
    _sql_l2sq,
    _sql_train_ctes,
    _sub_corpus,
    _subvectors,
    _train,
    corpus_queries,
    exact_subspace_topk_for,
    ivf_pq_topk_for,
    oracle_ivf_pq_topk_sql,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.similarity import (
    EMB_DIM,
    _cents_norm,
    _nearest_cell,
    _normed,
    _probe,
    _query_vecs,
    _reassemble_vec,
    _sql_cosine,
    _sql_vec,
)

N_QUERIES = 5
TOP_K = 10
NPROBE = 2

# Explicit read schemas: an index built from an EMPTY corpus is a
# directory with no data files, where parquet schema inference fails —
# empty partitions/corpora are routine at scale and the query path
# must degrade to an empty result, not throw.
CENTROIDS_SCHEMA = "label INT, pos INT, val DOUBLE"
CODEBOOKS_SCHEMA = "m INT, code INT, pos INT, val DOUBLE"
CODES_SCHEMA = "vec_id BIGINT, m INT, code INT, cell INT"
TOMBSTONES_SCHEMA = "vec_id BIGINT"


def write_ann_index(
    embeddings: DataFrame,
    path: str,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
    model: tuple | None = None,
) -> dict:
    """Train and persist the IVF-PQ index.  Returns the manifest
    (row counts per table) — the offline job's receipt.  ``model`` is
    an optional pre-trained ``pq._train`` model over these embeddings
    with these rounds: a maintenance loop that already trained on THIS
    corpus hands it in, and ``sub``'s persist stays owned by the
    caller."""
    own_sub = model is None
    if own_sub:
        model = _train(embeddings, rounds)
    sub, books, means, cents_vec = model

    centroids = cents_vec.select(
        F.col("label").cast("int").alias("label"),
        F.posexplode("cv").alias("pos", "val"),
    )
    codebooks = means.select(
        "m", "code",
        F.col("pos").cast("int").alias("pos"),
        "val",
    )
    codes = _assign(sub, books).select("vec_id", "m", "code")
    cells = _nearest_cell(
        _normed(embeddings, dim), _cents_norm(cents_vec, dim), dim
    )
    # The three table writes are INDEPENDENT jobs (centroids/codebooks
    # project the already-materialized model; codes derives from the
    # persisted sub-corpus) — submit them together so the small jobs'
    # fixed latencies overlap instead of summing (guide §2.6).  The
    # manifest counts ride each write job as OBSERVED metrics (r13) —
    # the write computes every row anyway, so counting there replaces
    # the read-back receipt job (one full action at ~0.2-0.5 s fixed
    # overhead per found/rebuild call) with zero extra work; observed
    # counts equal the read-back by the all-or-nothing parquet commit.
    from pyspark.sql import Observation

    obs = {t: Observation(f"write_ann_{t}") for t in
           ("centroids", "codebooks", "codes")}
    n_rows = F.count(F.lit(1)).alias("n")
    run_jobs(
        lambda: centroids.observe(obs["centroids"], n_rows)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids"),
        lambda: codebooks.observe(obs["codebooks"], n_rows)
        .write.mode("overwrite")
        .parquet(f"{path}/codebooks"),
        lambda: (
            # written in the COMPACTED layout (one sorted file per cell
            # — exactly what compact_ann_index produces): partition-
            # pruned serves read one file per probed cell, and a
            # maintenance rebuild needs no follow-up compaction rewrite
            codes.join(cells, "vec_id")
            .observe(obs["codes"], n_rows)
            .repartition(F.col("cell"))
            .sortWithinPartitions("vec_id", "m")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/codes")
        ),
    )
    if own_sub:
        sub.unpersist()
    return {
        t: observed_count(obs[t])
        for t in ("centroids", "codebooks", "codes")
    }


def _read_model(
    spark: SparkSession, path: str, dim: int
) -> tuple[DataFrame, DataFrame]:
    """The persisted model: ((label, cv, cnrm) coarse centroids,
    (m, code, scv) codebooks), reassembled from their exploded rows."""
    coarse = _cents_norm(
        _reassemble_vec(
            spark.read.schema(CENTROIDS_SCHEMA).parquet(f"{path}/centroids"),
            ["label"], "cv",
        ),
        dim,
    )
    books = _reassemble_vec(
        spark.read.schema(CODEBOOKS_SCHEMA).parquet(f"{path}/codebooks"),
        ["m", "code"], "scv",
    )
    return coarse, books


def append_to_ann_index(
    new_embeddings: DataFrame,
    path: str,
    dim: int = EMB_DIM,
) -> int:
    """Index freshness WITHOUT retraining: assign a new batch against
    the PERSISTED codebooks/centroids and append its codes to the
    cell-partitioned table — the write side of the serving loop
    (FAISS `add`).  Cost ∝ batch: one broadcast codebook join for the
    PQ codes, one broadcast centroid argmax for the cell, one
    partitioned append.  Centroids/codebooks drift as the corpus
    grows — re-training belongs to a periodic rebuild, not the
    per-batch path (same discipline as the fingerprint store's stop
    set).  Returns the number of distinct vec_ids appended.

    Ids must be unique, within the batch and against the index: rows
    that share a vec_id collapse into ONE code row per subspace (the
    assignment groups by (vec_id, m), the cell argmax by vec_id), so
    two different embeddings under one id merge into one code whose
    codewords and cell are each the nearest over both vectors."""
    coarse, books = _read_model(new_embeddings.sparkSession, path, dim)
    codes = _assign(_sub_corpus(new_embeddings), books).select(
        "vec_id", "m", "code"
    )
    cells = _nearest_cell(_normed(new_embeddings, dim), coarse, dim)
    # The appended-vector count rides the write job as an OBSERVED
    # metric (r13): the r12 shape persisted the batch across a distinct
    # count + the write (two actions); observing counts the very rows
    # the write commits — a STRONGER pinning than the persist, with one
    # action and no cache.  ``_assign`` emits exactly M_SUB rows per
    # vec_id (groupBy (vec_id, m) over the M_SUB-way subvector
    # explode), and ``cells`` is one row per vec_id, so distinct
    # vectors = rows DIV M_SUB exactly.
    from pyspark.sql import Observation

    obs = Observation("ann_append_receipt")
    appended = codes.join(cells, "vec_id").observe(
        obs, F.count(F.lit(1)).alias("n_rows")
    )
    (
        appended.write.mode("append")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )
    return observed_count(obs, "n_rows") // M_SUB


def delete_from_ann_index(vec_ids: DataFrame, path: str) -> int:
    """Logical delete (r11 — the FAISS `remove_ids` of this index):
    append the ids to a ``tombstones/`` side table.  O(batch) — no
    codes rewrite, no retrain; ``ann_query`` anti-joins candidates
    against the tombstones and ``compact_ann_index`` folds them into
    the codes rewrite (physical removal) and clears the table.
    Between compactions the tombstone set is bounded by delete
    traffic — the same contract as the gold store's partial batches.
    Returns the number of ids tombstoned, counted as an OBSERVED
    metric on the write itself (r13) — the count is over the very rows
    the write commits, a stronger pinning than the r12 persist across
    count+write (ADVICE r11), with one action instead of two."""
    from pyspark.sql import Observation

    obs = Observation("ann_delete_receipt")
    ids = (
        vec_ids.select(F.col("vec_id").cast("long"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    ids.write.mode("append").parquet(f"{path}/tombstones")
    return observed_count(obs)


def _tombstone_files(spark: SparkSession, path: str) -> list[str]:
    """Snapshot the tombstone table's parquet DATA files (driver-side
    FS glob, bounded by delete-batch count).  Compaction folds and
    clears exactly this snapshot: ids appended by a concurrent
    ``delete_from_ann_index`` AFTER the snapshot survive to the next
    compaction instead of being silently discarded (ADVICE r11)."""
    jvm, fs = hadoop_fs(spark, path)
    pattern = jvm.org.apache.hadoop.fs.Path(f"{path}/tombstones/*.parquet")
    statuses = fs.globStatus(pattern)
    if statuses is None:
        return []
    return sorted(str(s.getPath()) for s in statuses)


def _read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """None when no tombstone DATA files exist (a cleared table may
    leave an empty directory behind — compaction deletes only the
    data files it folded, never the directory)."""
    files = _tombstone_files(spark, path)
    if not files:
        return None
    return spark.read.schema(TOMBSTONES_SCHEMA).parquet(*files)


def ann_query(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    dim: int = EMB_DIM,
) -> DataFrame:
    """ADC top-k against the persisted index — NO training stage.

    ``queries`` is (query_id, embedding).  Cost shape: two tiny
    parquet reads (centroids, codebooks — broadcast), one bounded
    driver collect (the probe list: n_queries·nprobe cell ids, turned
    into a partition-pruning IN filter on ``codes/``), one ADC
    distance table (n_queries·M·K rows, broadcast), one partial-agg
    sum + per-query top-k window.  The corpus-side scan reads ONLY
    the probed cells' files."""
    coarse, books = _read_model(spark, path, dim)
    q = _query_vecs(queries, dim)
    probed = _probe(q, coarse, nprobe, dim)
    # Bounded collect (calibration-query contract): the literal cell
    # list is what turns the codes read into a partition-PRUNED scan.
    # One collect materializes BOTH the probe list (n_queries·nprobe
    # rows, re-emitted as a local relation for the candidate join) and
    # the distinct cell ids — before, a persist + a separate distinct
    # job did the same work in two jobs and left a cache to release.
    probed_rows = probed.collect()
    probed = local_relation(spark, probed_rows, probed.schema)
    probe_cells = sorted({r["cell"] for r in probed_rows})

    codes = spark.read.schema(CODES_SCHEMA).parquet(f"{path}/codes").filter(
        F.col("cell").isin(probe_cells)
    )

    dist_table = _adc_table(_subvectors(q, ["query_id"], F.col("qv")), books)

    cand = codes.join(F.broadcast(probed), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        # logical deletes: tombstoned vectors never surface as
        # neighbors (broadcast anti-join — the set is bounded by
        # delete traffic between compactions)
        cand = cand.join(F.broadcast(tomb), "vec_id", "left_anti")
    return _adc_topk(
        cand.join(F.broadcast(dist_table), ["query_id", "m", "code"]), k
    )


# ---------------------------------------------------------------------------
# Index maintenance (r8 verdict #1): the append path is O(batch) but
# leaves one parquet fragment per cell per batch — a daily loop turns
# the partition-pruned scan into a small-files scan.  Compaction
# rewrites each cell to one sorted file; staleness measures WHEN the
# frozen centroids/codebooks need a rebuild (recall drop vs a fresh
# retrain), the same serve-state discipline as
# ``dedupstore.compact_fingerprint_store``.
# ---------------------------------------------------------------------------


def _codes_data_files(spark: SparkSession, path: str) -> int:
    """Number of parquet DATA files under the cell-partitioned codes
    table (driver-side FS listing — bounded by file count, the thing
    compaction exists to keep small)."""
    jvm, fs = hadoop_fs(spark, path)
    pattern = jvm.org.apache.hadoop.fs.Path(f"{path}/codes/*/*.parquet")
    statuses = fs.globStatus(pattern)
    return 0 if statuses is None else len(statuses)


def compact_ann_index(spark: SparkSession, path: str) -> dict:
    """Rewrite the accumulated append fragments of ``codes/`` into ONE
    sorted file per cell, FOLDING tombstones (r11): logically-deleted
    vectors are dropped from the rewrite and the tombstone table is
    cleared — physical removal amortized into the maintenance pass a
    serving index runs anyway.  Content-preserving for the SERVED
    answer set by construction (same rows minus deletes, which the
    serve path already excluded), so ``ann_query`` answers are
    bit-identical before/after — asserted in tests and by the gate
    oracles.

    Write-to-temp then crash-recoverable swap (functions/fsutil
    aside-rename: every crash point leaves a recoverable copy); the
    tombstone clear happens only AFTER the swap lands, so a crash
    mid-compaction at worst re-folds the same deletes (the anti-join
    fold is idempotent).  The fold works over a FILE-LIST SNAPSHOT of
    the tombstone table and clears exactly those files — ids appended
    by a concurrent ``delete_from_ann_index`` between the snapshot and
    the clear stay tombstoned (served via the anti-join) until the
    next compaction folds them (ADVICE r11; no single-writer
    assumption needed between deleters and the compactor).  Returns
    {files_before, files_after, codes, deletes_folded}."""
    from pyspark.sql import Observation

    files_before = _codes_data_files(spark, path)
    codes = spark.read.schema(CODES_SCHEMA).parquet(f"{path}/codes")
    tomb_files = _tombstone_files(spark, path)
    if tomb_files:
        tomb = spark.read.schema(TOMBSTONES_SCHEMA).parquet(*tomb_files)
        codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    tmp = f"{path}/codes__compacting"
    # the rewritten-codes count rides the rewrite job as an OBSERVED
    # metric (r13; equals the r12 read-back by the all-or-nothing
    # parquet commit + atomic swap) — the separate receipt job remains
    # only for the folded-delete count, and only when deletes exist
    obs = Observation("ann_compact_receipt")
    (
        codes.observe(obs, F.count(F.lit(1)).alias("n"))
        .repartition(F.col("cell"))
        .sortWithinPartitions("vec_id", "m")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    swap_dir(spark, f"{path}/codes", tmp, "compact_ann_index")
    n_codes = observed_count(obs)
    deletes_folded = 0
    if tomb_files:
        # tombstone snapshot files still exist here — they are deleted
        # only after this count lands
        deletes_folded = (
            spark.read.schema(TOMBSTONES_SCHEMA)
            .parquet(*tomb_files)
            .select("vec_id")
            .distinct()
            .count()
        )
        jvm, fs = hadoop_fs(spark, path)
        for tf in tomb_files:
            fs.delete(jvm.org.apache.hadoop.fs.Path(tf), False)
    return {
        "files_before": files_before,
        "files_after": _codes_data_files(spark, path),
        "codes": n_codes,
        "deletes_folded": deletes_folded,
    }


DRIFT_SHIFT = 1 << 41
DRIFT_DELTA = 0.5  # exactly representable; float+double promotion is
#                    a single IEEE add, bit-identical in both engines
STALE_K = 25       # recall@25: at gate scale, recall@10 sits on the
#                    PQ floor for drifted vectors in BOTH indexes;
#                    k=25 separates stale from fresh (measured sweep:
#                    sf0.01 stale 4/125 vs fresh 17/125)


def drifted_batch(embeddings: DataFrame) -> DataFrame:
    """A deterministic distribution-shifted twin population: ids moved
    out of the founding range, every coordinate shifted by +0.5 (≈4σ
    of the corpus coordinate spread).  The shift is an isometry
    (pairwise distances within the batch are preserved, so the batch's
    true neighbor structure mirrors the founding corpus) but
    translates every per-subspace distribution away from the founding
    codewords: stale books quantize batch vectors with a systematic
    ~|c|·√dim residual, while a fresh retrain allocates codewords to
    the new mode — the controlled drift ``ann_index_staleness``
    measures."""
    return embeddings.select(
        (F.col("vec_id") + F.lit(DRIFT_SHIFT)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(DRIFT_DELTA)
        ).alias("embedding"),
        "label",
    )


def ann_index_staleness(
    spark: SparkSession,
    path: str,
    current: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
    model: tuple | None = None,
) -> DataFrame:
    """The measured rebuild trigger: per query, recall@k of the
    PERSISTED (appended, never-retrained) index vs a FRESH retrain on
    the current corpus, both against the exact subspace-integer-grid
    top-k.  ``model`` optionally carries a pre-trained ``pq._train``
    model over ``current`` for the fresh side (see
    ``pq.ivf_pq_topk_for``).  Output (query_id, k, stale_hits, fresh_hits,
    stale_recall_e6, fresh_recall_e6, recall_drop_e6); a sustained
    positive drop is the WHEN-to-rebuild signal the append path's
    docstring defers to (the ``pq_recall`` evaluation pattern applied
    to index maintenance).

    Cost shape: one ``ann_query`` (serve-side, partition-pruned), one
    inline retrain (the offline comparator — this is the periodic
    maintenance JOB, not the serve path), one exact scan bounded by
    the calibration-query broadcast."""
    stale_full = ann_query(spark, path, queries, k, nprobe, dim)
    fresh_full = ivf_pq_topk_for(
        current, queries, k, nprobe, rounds, dim, model=model
    )
    # .select() returns a fresh DataFrame without the cached-deps tag —
    # capture ownership from the originals (caching.carried_deps doc)
    stale = stale_full.select("query_id", "neighbor_id")
    fresh = fresh_full.select("query_id", "neighbor_id")
    exact = exact_subspace_topk_for(current, queries, k)
    stale_h = (
        exact.join(stale.withColumn("_s", F.lit(1)),
                   ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_s").alias("stale_hits"))
    )
    fresh_h = (
        exact.join(fresh.withColumn("_f", F.lit(1)),
                   ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_f").alias("fresh_hits"))
    )
    out = (
        stale_h.join(fresh_h, "query_id")
        .select(
            "query_id",
            F.lit(int(k)).cast("long").alias("k"),
            "stale_hits",
            "fresh_hits",
            F.expr(f"stale_hits * 1000000 div {int(k)}").alias(
                "stale_recall_e6"
            ),
            F.expr(f"fresh_hits * 1000000 div {int(k)}").alias(
                "fresh_recall_e6"
            ),
            F.expr(
                f"fresh_hits * 1000000 div {int(k)}"
                f" - stale_hits * 1000000 div {int(k)}"
            ).alias("recall_drop_e6"),
        )
        .orderBy("query_id")
    )
    return attach_cached_deps(
        out, *carried_deps(stale_full), *carried_deps(fresh_full)
    )


# Mean recall-drop (e20-free e6 fraction of k) above which the frozen
# index is worth retraining: 40000 = 4 recall points at k=25 — the
# drifted gate fixture measures 48000-104000 across sf0.001..sf10, so
# the gate's rebuild path is deterministic at every tested scale.
REBUILD_DROP_E6 = 40000


def maintain_ann_index(
    spark: SparkSession,
    path: str,
    current: DataFrame,
    queries: DataFrame,
    k: int = STALE_K,
    nprobe: int = NPROBE,
    rounds: int = PQ_ROUNDS,
    dim: int = EMB_DIM,
    rebuild_drop_e6: int = REBUILD_DROP_E6,
) -> dict:
    """The periodic maintenance JOB the append path defers to, as one
    call: measure staleness (bounded — n_queries rows), retrain IF the
    mean recall drop crosses the threshold, then compact.  This is the
    complete measured serve loop: append daily (O(batch)), maintain on
    a schedule; between maintenances the index serves frozen state.
    Returns {mean_drop_e6, rebuilt, files_before, files_after, codes}."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    # ONE training pass over the current corpus, shared by the fresh
    # comparator inside the staleness measurement AND the conditional
    # rebuild below — training is deterministic (dround(6) means,
    # pinned tie-breaks), so the reuse is bit-identical to retraining.
    model = _train(current, rounds)
    try:
        stale_df = ann_index_staleness(
            spark, path, current, queries, k, nprobe, rounds, dim,
            model=model,
        )
        rows = stale_df.collect()
        release_cached(stale_df)
        mean_drop = (
            sum(r["recall_drop_e6"] for r in rows) // len(rows) if rows else 0
        )
        rebuilt = bool(rows) and mean_drop >= rebuild_drop_e6
        if rebuilt:
            write_ann_index(current, path, rounds, dim, model=model)
    finally:
        model[0].unpersist()
    if rebuilt:
        if not _tombstone_files(spark, path):
            # a rebuild writes the compacted layout (one sorted file
            # per cell); with no tombstones to fold, a compaction here
            # would be a byte-identical rewrite of what was just
            # written — skip it and report the fresh state as the
            # receipt
            n_files = _codes_data_files(spark, path)
            n_codes = (
                spark.read.schema(CODES_SCHEMA)
                .parquet(f"{path}/codes")
                .count()
            )
            return {
                "mean_drop_e6": mean_drop,
                "rebuilt": True,
                "files_before": n_files,
                "files_after": n_files,
                "codes": n_codes,
                "deletes_folded": 0,
            }
    manifest = compact_ann_index(spark, path)
    return {"mean_drop_e6": mean_drop, "rebuilt": rebuilt, **manifest}


# ---------------------------------------------------------------------------
# DuckDB oracle twins
# ---------------------------------------------------------------------------


def _sql_serve_ctes(serve_table: str) -> str:
    """CTE fragment: the serving corpus + its subvector decomposition
    (appended AFTER the training chain, which owns ``subspaces``)."""
    return f""",
        serve_corpus AS (
            SELECT vec_id, {_sql_vec("embedding")} AS v FROM {serve_table}
            WHERE embedding IS NOT NULL
        ),
        serve_subcorpus AS (
            SELECT c.vec_id, s.m,
                   c.v[s.m * {SUB_DIM} + 1 : (s.m + 1) * {SUB_DIM}] AS sv
            FROM serve_corpus c CROSS JOIN subspaces s
        )"""


def _sql_stale_topk(
    train_table: str,
    serve_table: str,
    query_pred: str,
    k: int,
    nprobe: int,
    rounds: int,
) -> str:
    """ivf_pq over a FROZEN index: books/centroids trained on
    ``train_table`` only, assignments+cells+queries over
    ``serve_table`` — exactly ``write_ann_index(founding)`` +
    ``append_to_ann_index(batch)`` + ``ann_query``.  ``query_pred``
    selects the calibration queries (prefix with alias ``q``)."""
    sql, books = _sql_train_ctes(train_table, rounds)
    return (
        sql
        + _sql_serve_ctes(serve_table)
        + f""",
        serve_assigned AS (
            SELECT vec_id, m, code FROM (
                SELECT c.vec_id, c.m, k.code,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id, c.m
                           ORDER BY {_sql_l2sq("c.sv", "k.scv")} ASC,
                                    k.code ASC) AS rn
                FROM serve_subcorpus c JOIN {books} k ON c.m = k.m
            ) WHERE rn = 1
        ),
        fullvecs AS (SELECT code AS label, cv FROM cvecs),
        serve_cells AS (
            SELECT vec_id, cell FROM (
                SELECT c.vec_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY {_sql_cosine("c.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM serve_corpus c CROSS JOIN fullvecs k
            ) WHERE rn = 1
        ),
        probed AS (
            SELECT query_id, cell FROM (
                SELECT q.vec_id AS query_id, k.label AS cell,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_sql_cosine("q.v", "k.cv")} DESC,
                                    k.label ASC) AS rn
                FROM serve_corpus q CROSS JOIN fullvecs k
                WHERE {query_pred.format(a="q")}
            ) WHERE rn <= {nprobe}
        ),
        cand AS (
            SELECT p.query_id, c.vec_id
            FROM serve_cells c JOIN probed p ON c.cell = p.cell
            WHERE c.vec_id <> p.query_id
        ),
        dist_table AS (
            SELECT c.vec_id AS query_id, c.m, k.code,
                   {sql_cents(_sql_l2sq("c.sv", "k.scv"), 6)} AS pd_e6
            FROM serve_subcorpus c JOIN {books} k ON c.m = k.m
            WHERE {query_pred.format(a="c")}
        ),
        scored AS (
            SELECT cd.query_id, a.vec_id AS neighbor_id,
                   CAST(SUM(d.pd_e6) AS BIGINT) AS adc_e6
            FROM serve_assigned a
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
        SELECT query_id, neighbor_id FROM ranked WHERE rank <= {k}"""
    )


def _sql_exact_topk(serve_table: str, query_pred: str, k: int) -> str:
    """Exact subspace-integer-grid top-k over ``serve_table`` for the
    ``query_pred`` calibration set (the ``pq_recall`` ground truth)."""
    d_e6 = sql_cents(_sql_l2sq("q.sv", "c.sv"), 6)
    return (
        f"""WITH subspaces AS (
            SELECT CAST(unnest(range({M_SUB})) AS INT) AS m
        )"""
        + _sql_serve_ctes(serve_table)
        + f""",
        exact_scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   CAST(SUM({d_e6}) AS BIGINT) AS d_e6
            FROM serve_subcorpus q
            JOIN serve_subcorpus c ON q.m = c.m AND c.vec_id <> q.vec_id
            WHERE {query_pred.format(a="q")}
            GROUP BY q.vec_id, c.vec_id
        ),
        exact_ranked AS (
            SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                PARTITION BY query_id
                ORDER BY d_e6 ASC, neighbor_id ASC) AS rk
            FROM exact_scored
        )
        SELECT query_id, neighbor_id FROM exact_ranked WHERE rk <= {k}"""
    )


def _drift_serve_table(train_table: str) -> str:
    # CAST both operands: DuckDB would otherwise add FLOAT + DECIMAL
    # (a float-precision add), one ulp off Spark's float-promoted-to-
    # double + double literal — surfaced as ±1 in cents(l2sq) by the
    # rebuilt-index gate (recall counts masked it in the staleness one)
    return (
        f"(SELECT vec_id, embedding, label FROM {train_table}"
        " UNION ALL"
        f" SELECT vec_id + {DRIFT_SHIFT},"
        f" list_transform(embedding, x -> CAST(x AS DOUBLE)"
        f" + CAST({DRIFT_DELTA} AS DOUBLE)), label"
        f" FROM {train_table}) cur"
    )


def _drift_query_pred(n_queries: int) -> str:
    return (
        f"{{a}}.vec_id >= {DRIFT_SHIFT}"
        f" AND {{a}}.vec_id < {DRIFT_SHIFT + n_queries}"
    )


def oracle_ann_rebuilt_topk_sql(
    train_table: str = "embeddings",
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    rounds: int = PQ_ROUNDS,
) -> str:
    """Twin of the post-maintenance query: the drifted fixture forces
    a rebuild (measured drop >= REBUILD_DROP_E6 at every tested
    scale), so the maintained index equals a fresh retrain on the
    current corpus — the ivf_pq twin over the drift union, queries =
    the batch calibration set."""
    return oracle_ivf_pq_topk_sql(
        table=_drift_serve_table(train_table),
        n_queries=n_queries,
        k=k,
        nprobe=nprobe,
        rounds=rounds,
        query_pred=_drift_query_pred(n_queries),
    )


def oracle_ann_staleness_sql(
    train_table: str = "embeddings",
    n_queries: int = N_QUERIES,
    k: int = STALE_K,
    nprobe: int = NPROBE,
    rounds: int = PQ_ROUNDS,
) -> str:
    """Twin of the ``ann_index_staleness`` gate wrapper: founding =
    ``train_table``; batch = reversed twins under DRIFT_SHIFT ids;
    queries = the first n_queries batch vectors.  Stale/fresh/exact
    each carry their own WITH chain as a derived table (DuckDB scopes
    CTEs per subquery, so the three training chains don't collide)."""
    serve_table = _drift_serve_table(train_table)
    query_pred = _drift_query_pred(n_queries)
    stale = _sql_stale_topk(
        train_table, serve_table, query_pred, k, nprobe, rounds
    )
    fresh = oracle_ivf_pq_topk_sql(
        table=serve_table,
        n_queries=n_queries,
        k=k,
        nprobe=nprobe,
        rounds=rounds,
        query_pred=query_pred,
    )
    exact = _sql_exact_topk(serve_table, query_pred, k)
    return f"""
        WITH exact_topk AS (SELECT * FROM ({exact}) e0),
        stale_topk AS (SELECT * FROM ({stale}) s0),
        fresh_topk AS (SELECT * FROM ({fresh}) f0),
        stale_h AS (
            SELECT e.query_id, CAST(COUNT(s.neighbor_id) AS BIGINT)
                       AS stale_hits
            FROM exact_topk e LEFT JOIN stale_topk s
              ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
            GROUP BY e.query_id
        ),
        fresh_h AS (
            SELECT e.query_id, CAST(COUNT(f.neighbor_id) AS BIGINT)
                       AS fresh_hits
            FROM exact_topk e LEFT JOIN fresh_topk f
              ON f.query_id = e.query_id AND f.neighbor_id = e.neighbor_id
            GROUP BY e.query_id
        )
        SELECT s.query_id, CAST({k} AS BIGINT) AS k,
               s.stale_hits, f.fresh_hits,
               CAST(s.stale_hits * 1000000 // {k} AS BIGINT)
                   AS stale_recall_e6,
               CAST(f.fresh_hits * 1000000 // {k} AS BIGINT)
                   AS fresh_recall_e6,
               CAST(f.fresh_hits * 1000000 // {k}
                    - s.stale_hits * 1000000 // {k} AS BIGINT)
                   AS recall_drop_e6
        FROM stale_h s JOIN fresh_h f ON s.query_id = f.query_id
        ORDER BY s.query_id"""
