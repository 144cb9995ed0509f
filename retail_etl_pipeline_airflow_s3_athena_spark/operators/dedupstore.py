"""Cross-run incremental dedup against a PERSISTED fingerprint store
(r7 verdict #7).

``dedup.incremental_near_dups`` recomputes the corpus-side MinHash
signatures every call — right for a one-shot backfill, wrong for the
daily-ingest loop a 100 TB corpus actually runs: at steady state the
corpus is ~1000× the batch, so corpus-side recompute dominates and
grows without bound.  The store discipline fixes the asymptotics:

- ``write_fingerprint_store(docs, store)``: ONE corpus pass persists
  four bucketed catalog tables (pre-paying the corpus-side exchange
  forever):

  * ``{store}_bands``     — (doc_id, band, bh), bucketed+sorted by
    (band, bh): the LSH candidate index.  A new batch's band rows
    sort-merge-join against it with NO corpus-side Exchange — the
    batch side pays one batch-sized shuffle, the corpus side zips
    sorted buckets straight off disk.
  * ``{store}_shingles``  — (doc_id, s), df-capped at write,
    bucketed by doc_id: the verification set.
  * ``{store}_sizes``     — (doc_id, n): per-doc capped shingle
    counts (the Jaccard denominator, never recomputed).
  * ``{store}_stop``      — (s): the over-cap stop-shingle set
    (tiny by construction — broadcast to cap each new batch against
    the STORE's document frequencies, the production semantic:
    stop-shingles are a property of the reference corpus, so batch
    scoring is reproducible no matter when the batch arrives).

- ``stored_near_dups(spark, new_docs, store)``: per-ingest cost
  scales with the BATCH — new-side shingles/signatures are computed
  fresh (batch-sized), all four corpus-side inputs are reads of the
  persisted tables.  Semantics = ``incremental_near_dups`` with the
  df cap evaluated over the store instead of the union (documented
  divergence; the cap exists to bound stop-shingle fanout and the
  store is the stable reference for it).

Determinism: every hash/signature/band value is the exact BIGINT
arithmetic of operators/dedup.py, so store contents are a pure
function of the corpus and the oracle twin recomputes them from the
raw table inside DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    attach_cached_deps,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import hadoop_fs
from retail_etl_pipeline_airflow_s3_athena_spark.functions.jobs import (
    observed_count,
    run_jobs,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.dedup import (
    MAX_SHINGLE_DF,
    NUM_BANDS,
    _band_hash_expr,
    _cap_frequent_shingles,
    _flat_shingles,
    _signatures_from,
    _sql_band_hash,
    _sql_signature_cte,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import dround, sql_dround

STORE_BUCKETS = 8


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) from a signature table."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        _band_hash_expr(b).alias("bh"),
                    )
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bh")


def _write_bucketed(
    df: DataFrame, name: str, keys: list[str] | None, buckets: int
) -> int:
    """saveAsTable, bucketed+sorted by ``keys`` when given (clearing
    any orphaned managed location first — the
    catalog.write_bucketed_table discipline, multi-key variant).
    Returns the written row count, OBSERVED on the write job itself
    (r13) — equal to a read-back by the all-or-nothing table commit,
    with zero extra actions."""
    from pyspark.sql import Observation

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = f"{spark.conf.get('spark.sql.warehouse.dir')}/{name}"
    jvm, fs = hadoop_fs(spark, loc)
    fs.delete(jvm.org.apache.hadoop.fs.Path(loc), True)
    obs = Observation(f"write_{name}")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    if keys:
        # Align write tasks to the bucket layout: without this every
        # input partition writes its own file per bucket it touches
        # (measured r12: 505 files in the bands table after one
        # found+append cycle at sf0.1 — a small-files scan on every
        # read).  repartition uses the same murmur3 HashPartitioning
        # as the bucket spec, so each task holds exactly one bucket
        # and writes exactly one file.
        df = df.repartition(buckets, *keys)
    w = df.write.format("parquet")
    if keys:
        w = w.bucketBy(buckets, *keys).sortBy(*keys)
    w.saveAsTable(name)
    return observed_count(obs)


def write_fingerprint_store(
    docs: DataFrame,
    store: str,
    text_col: str = "text",
    max_df: int | None = MAX_SHINGLE_DF,
    buckets: int = STORE_BUCKETS,
) -> dict:
    """One corpus pass -> four bucketed catalog tables.  Returns the
    manifest (row counts) — the offline job's receipt."""
    flat = _flat_shingles(docs, text_col).persist()
    # materialize the shared shingle cache ONCE before the concurrent
    # writes below (two jobs racing an unmaterialized persist would
    # each compute it); the count doubles as the shingles manifest row
    n_shingles = flat.count()
    sig = _signatures_from(flat)
    stop = (
        flat.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > (max_df if max_df is not None else 2**62))
        .select("s")
    )
    capped = _cap_frequent_shingles(flat, max_df)
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Four INDEPENDENT writes over the materialized shingle cache —
    # submitted together so the three cheap ones overlap the minhash
    # band job (guide §2.6); each write OBSERVES its own row count
    # (the r12 read-back receipt job is subsumed, values identical).
    # shingles are stored UNCAPPED: the stop set is applied at read
    # time (a broadcast anti-join — no extra shuffle), which is what
    # makes `compact_fingerprint_store` possible.  Sizes ARE capped
    # (derived serving state, cheap to rewrite at compaction).
    n_bands, n_stop, _, n_sizes = run_jobs(
        lambda: _write_bucketed(
            _band_rows(sig), f"{store}_bands", ["band", "bh"], buckets
        ),
        # stop is tiny; plain table (no bucketing needed)
        lambda: _write_bucketed(stop, f"{store}_stop", None, buckets),
        lambda: _write_bucketed(
            flat, f"{store}_shingles", ["doc_id"], buckets
        ),
        lambda: _write_bucketed(sizes, f"{store}_sizes", ["doc_id"], buckets),
    )
    flat.unpersist()
    return {
        "bands": n_bands,
        "shingles": n_shingles,
        "sizes": n_sizes,
        "stop": n_stop,
    }


def append_to_fingerprint_store(
    new_docs: DataFrame,
    store: str,
    text_col: str = "text",
) -> dict:
    """The write side of the ingest loop: fold a scored batch INTO the
    store so the NEXT batch dedups against it.  Appends batch-derived
    rows to the bucketed bands/shingles/sizes tables (Spark appends to
    bucketed tables with a matching spec — each append pays only a
    batch-sized shuffle into the existing bucket layout).

    The stop-shingle set is NOT recomputed (that needs a full-corpus
    df re-aggregation — a periodic compaction job's business, not the
    per-batch path): batch shingles are capped against the FOUNDING
    corpus's stop set, keeping every batch's scores reproducible no
    matter when it arrived.  Returns appended row counts."""
    from pyspark.sql import Observation

    spark = new_docs.sparkSession
    flat = _flat_shingles(new_docs, text_col).persist()
    # materialize the shared batch-shingle cache ONCE before the
    # concurrent writes (the count doubles as the shingles manifest
    # row; r12 ran a separate 3-way receipt job for the same numbers)
    n_shingles = flat.count()
    bands = _band_rows(_signatures_from(flat))
    stop = spark.table(f"{store}_stop")
    capped = flat.join(F.broadcast(stop), "s", "left_anti")
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # appends align to the bucket layout too (see _write_bucketed):
    # one file per bucket per append instead of one per input
    # partition per bucket; the three appends are INDEPENDENT jobs
    # over the materialized cache — submitted together (§2.6), each
    # observing its own appended count on the write itself
    obs_b = Observation("append_bands")
    obs_z = Observation("append_sizes")
    run_jobs(
        lambda: (
            bands.observe(obs_b, F.count(F.lit(1)).alias("n"))
            .repartition(STORE_BUCKETS, "band", "bh")
            .write.bucketBy(STORE_BUCKETS, "band", "bh")
            .sortBy("band", "bh")
            .format("parquet")
            .mode("append")
            .saveAsTable(f"{store}_bands")
        ),
        lambda: (
            flat.repartition(STORE_BUCKETS, "doc_id")
            .write.bucketBy(STORE_BUCKETS, "doc_id")
            .sortBy("doc_id")
            .format("parquet")
            .mode("append")
            .saveAsTable(f"{store}_shingles")
        ),
        lambda: (
            sizes.observe(obs_z, F.count(F.lit(1)).alias("n"))
            .repartition(STORE_BUCKETS, "doc_id")
            .write.bucketBy(STORE_BUCKETS, "doc_id")
            .sortBy("doc_id")
            .format("parquet")
            .mode("append")
            .saveAsTable(f"{store}_sizes")
        ),
    )
    flat.unpersist()
    return {
        "bands": observed_count(obs_b),
        "shingles": n_shingles,
        "sizes": observed_count(obs_z),
    }


def compact_fingerprint_store(
    spark: SparkSession,
    store: str,
    max_df: int | None = MAX_SHINGLE_DF,
    buckets: int = STORE_BUCKETS,
) -> dict:
    """The periodic maintenance job the per-batch path defers to:
    recompute the stop-shingle set over the CURRENT corpus (one
    combinable df aggregation over the uncapped shingle table) and
    rewrite the derived serving state (stop + capped sizes).  Bands
    and shingles are untouched — signatures are cap-independent and
    shingles are stored uncapped precisely so this recompute has its
    input.  After compaction, batch scores reflect corpus-wide
    document frequencies again (scores are stable BETWEEN compactions,
    exact AT them — the standard freshness/stability trade)."""
    flat = spark.table(f"{store}_shingles")
    stop = (
        flat.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > (max_df if max_df is not None else 2**62))
        .select("s")
    )
    # the sizes rewrite reads the stop TABLE back (not the plan), so
    # the two writes are inherently sequential; both counts ride their
    # write jobs as observed metrics (the r12 receipt job subsumed)
    n_stop = _write_bucketed(stop, f"{store}_stop", None, buckets)
    capped = flat.join(
        F.broadcast(spark.table(f"{store}_stop")), "s", "left_anti"
    )
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    n_sizes = _write_bucketed(sizes, f"{store}_sizes", ["doc_id"], buckets)
    return {"stop": n_stop, "sizes": n_sizes}


def stored_near_dups(
    spark: SparkSession,
    new_docs: DataFrame,
    store: str,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """(new_doc_id, old_doc_id, jaccard): near-dup matches of a new
    batch against the persisted store.  Per-ingest cost ∝ batch:

    - batch shingles/signatures: one batch-sized pass + shuffle;
    - candidate generation: batch band rows sort-merge-join the
      bucketed ``{store}_bands`` on exactly its bucket key (band, bh)
      — NO corpus-side Exchange (plan-asserted in tests);
    - verification: candidate pairs are batch-bounded, so the
      batch-side shingle/pair table broadcasts and the store-side
      shingle/size reads stay exchange-free too.

    Caller contract: new doc_ids are disjoint from stored ones (an
    ingest pipeline's natural invariant)."""
    nflat = _flat_shingles(new_docs, text_col).persist()
    nbands = _band_rows(_signatures_from(nflat))
    sbands = spark.table(f"{store}_bands")
    cands = (
        nbands.alias("n")
        .join(
            sbands.alias("o").hint("merge"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bh") == F.col("o.bh")),
        )
        .select(
            F.col("n.doc_id").alias("doc_a"),
            F.col("o.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    stop = spark.table(f"{store}_stop")
    ncapped = nflat.join(F.broadcast(stop), "s", "left_anti")
    # batch-side shingles keyed by candidate pair — bounded by the
    # batch's LSH fanout, broadcast into the store-side probe
    a_sh = cands.join(
        ncapped.withColumnRenamed("doc_id", "doc_a"), "doc_a"
    ).select("doc_a", "doc_b", "s")
    # store shingles are UNCAPPED on disk; the stop set applies at
    # read time (broadcast anti-join — no extra shuffle)
    sshingles = spark.table(f"{store}_shingles").join(
        F.broadcast(stop), "s", "left_anti"
    )
    inter = (
        sshingles.join(
            F.broadcast(a_sh),
            (sshingles.doc_id == F.col("doc_b"))
            & (sshingles.s == a_sh.s),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = ncapped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    nb = spark.table(f"{store}_sizes")
    jac = dround(
        F.col("n_inter")
        / (F.col("na.n") + F.col("nb.n") - F.col("n_inter")),
        6,
    )
    out = (
        inter.join(na.alias("na"), F.col("doc_a") == F.col("na.doc_id"))
        .join(nb.alias("nb"), F.col("doc_b") == F.col("nb.doc_id"))
        .select(
            F.col("doc_a").alias("new_doc_id"),
            F.col("doc_b").alias("old_doc_id"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return attach_cached_deps(out, nflat)


def oracle_store_ingest_loop_sql(
    founding_filter: str,
    batch1_filter: str,
    batch2_filter: str,
    table: str = "documents",
    t: str = "text",
    threshold: float = 0.5,
    max_df: int = MAX_SHINGLE_DF,
    compacted: bool = False,
) -> str:
    """Twin of the two-batch ingest loop: batch2 scores against
    founding ∪ batch1 (batch1 was appended).  ``compacted=False`` =
    the plain loop (stop set from the FOUNDING corpus only — append
    never recomputes it); ``compacted=True`` = after
    ``compact_fingerprint_store`` (stop set over founding ∪ batch1 —
    the recompute is exactly what compaction does)."""
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, {_sql_band_hash(b)} AS bh FROM sig"
        for b in range(NUM_BANDS)
    )
    jac = sql_dround(
        "CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)", 6
    )
    return f"""
        WITH {_sql_signature_cte(table, t).strip()},
        flags AS (
            SELECT doc_id,
                   ({founding_filter}) AS is_founding,
                   ({batch1_filter}) AS is_b1,
                   ({batch2_filter}) AS is_b2
            FROM {table}
        ),
        bands AS (
        {band_selects}
        ),
        pairs AS (
            SELECT DISTINCT n.doc_id AS doc_a, o.doc_id AS doc_b
            FROM bands n
            JOIN flags fn ON n.doc_id = fn.doc_id AND fn.is_b2
            JOIN bands o ON n.band = o.band AND n.bh = o.bh
            JOIN flags fo ON o.doc_id = fo.doc_id
                         AND (fo.is_founding OR fo.is_b1)
        ),
        sh_flat AS (SELECT doc_id, unnest(sh) AS s FROM sh_t),
        stop AS (
            SELECT s FROM sh_flat f
            JOIN flags g ON f.doc_id = g.doc_id
                        AND (g.is_founding{" OR g.is_b1" if compacted else ""})
            GROUP BY s HAVING COUNT(*) > {max_df}
        ),
        shc AS (
            SELECT doc_id, s FROM sh_flat
            WHERE s NOT IN (SELECT s FROM stop)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
            FROM pairs p
            JOIN shc a ON p.doc_a = a.doc_id
            JOIN shc b ON p.doc_b = b.doc_id AND a.s = b.s
            GROUP BY p.doc_a, p.doc_b
        )
        SELECT i.doc_a AS new_doc_id, i.doc_b AS old_doc_id,
               {jac} AS jaccard
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE {jac} >= {threshold}
    """


def oracle_stored_near_dups_sql(
    new_filter: str,
    table: str = "documents",
    t: str = "text",
    threshold: float = 0.5,
    max_df: int = MAX_SHINGLE_DF,
) -> str:
    """DuckDB twin: the store is a deterministic function of the old
    rows, so the oracle recomputes it inline.  Differs from the
    incremental_near_dups twin in ONE place, by design: the stop-
    shingle set (df > max_df) is evaluated over the OLD side only."""
    band_selects = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, {_sql_band_hash(b)} AS bh FROM sig"
        for b in range(NUM_BANDS)
    )
    jac = sql_dround(
        "CAST(i.n_inter AS DOUBLE) / (sa.n + sb.n - i.n_inter)", 6
    )
    return f"""
        WITH {_sql_signature_cte(table, t).strip()},
        flags AS (SELECT doc_id, ({new_filter}) AS is_new FROM {table}),
        bands AS (
        {band_selects}
        ),
        pairs AS (
            SELECT DISTINCT n.doc_id AS doc_a, o.doc_id AS doc_b
            FROM bands n
            JOIN flags fn ON n.doc_id = fn.doc_id AND fn.is_new
            JOIN bands o ON n.band = o.band AND n.bh = o.bh
            JOIN flags fo ON o.doc_id = fo.doc_id AND NOT fo.is_new
        ),
        sh_flat AS (SELECT doc_id, unnest(sh) AS s FROM sh_t),
        stop AS (
            SELECT s FROM sh_flat f
            JOIN flags g ON f.doc_id = g.doc_id AND NOT g.is_new
            GROUP BY s HAVING COUNT(*) > {max_df}
        ),
        shc AS (
            SELECT doc_id, s FROM sh_flat
            WHERE s NOT IN (SELECT s FROM stop)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
            FROM pairs p
            JOIN shc a ON p.doc_a = a.doc_id
            JOIN shc b ON p.doc_b = b.doc_id AND a.s = b.s
            GROUP BY p.doc_a, p.doc_b
        )
        SELECT i.doc_a AS new_doc_id, i.doc_b AS old_doc_id,
               {jac} AS jaccard
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE {jac} >= {threshold}
    """
