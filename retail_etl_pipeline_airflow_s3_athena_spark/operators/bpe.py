"""Distributed byte-pair-encoding (BPE) tokenizer induction and corpus
segmentation (Sennrich, Haddow & Birch 2016, arXiv:1508.07909).

Reference scope: the reference pipeline has no text surface at all (its
quality checks stop at row counts/nulls, scripts/data_quality.py);
tokenizer-vocabulary induction is the canonical pre-training corpus
scan a training-data pipeline runs after curation — the per-merge pair
statistics here are the exact quantities GPT-2-style BPE training
computes, expressed Spark-first.

Plan shape (100 TB notes):

- The corpus is touched EXACTLY ONCE: an explode + groupBy reduces ~N
  corpus tokens to the unique-word frequency table (both aggregation
  levels map-side combinable).  Every merge round then runs on unique
  words only — the classic Sennrich formulation, and the reason BPE is
  tractable at corpus scale: |unique words| << |corpus tokens| (Heaps'
  law; ~100M unique words for a 100 TB web corpus vs ~10^13 tokens).
- Each round is (a) one map-side-combinable pair-count aggregation
  over the word table (adjacent symbol pairs exploded from an indexed
  transform — overlapping occurrences counted, matching the reference
  algorithm), (b) a 1-row TakeOrderedAndProject collect (the argmax is
  inherently global and exactly one row — a bounded driver collect),
  and (c) a narrow per-row fold rewriting the symbol arrays
  greedy-left-to-right.  Each round's output is eagerly
  local-checkpointed and the predecessor's blocks released, so round
  k never replays rounds 1..k-1 AND the plan stays a constant-size
  Project over an RDD scan.  A persist() chain instead nests
  InMemoryRelations whose generated plan-description strings DOUBLE
  per round (measured: 450 MB of toString by round 17 — the SQL-tab
  description generation OOMs an 8 GiB driver around round 30);
  checkpointing is the standard iterative-algorithm lineage cut.
- The higher-order array lambdas (transform/aggregate) are interpreted
  rather than codegen'd — the documented tradeoff: they run on the
  REDUCED word table, never the corpus.  The corpus-side passes
  (tokenize+count, and the final dictionary join) stay inside
  whole-stage codegen.
- ``bpe_doc_tokens`` joins the final segmentation back to the corpus
  token stream on the word key — a dictionary join AQE converts to a
  broadcast join whenever the learned vocabulary fits (it is bounded
  by |unique words|); the per-doc rollup is one more combinable
  aggregate on the doc_id hash.
- Determinism: pair frequencies are exact LONG sums; the argmax
  tie-break is (freq DESC, left ASC, right ASC) on ASCII-safe binary
  string order — identical in Spark, DuckDB, and the pure-Python
  oracle twin, so merge sequences are bit-reproducible cross-engine.

A possible future refinement at extreme round counts is incremental
pair-count maintenance (only words containing the merged pair change
between rounds); the full recount per round keeps every round a single
shuffle and is the right starting point.
"""

from __future__ import annotations

import os
import re
from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    _CheckpointDep,
    attach_cached_deps,
    local_relation,
    release_checkpoint,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.jobs import (
    observed_count,
    run_jobs,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import _sql_tokens, tokens


EOW = "</w>"
N_MERGES = 32
MIN_PAIR_FREQ = 2
# Words per loop partition: each merge round's per-task work is a few
# interpreted array lambdas per word, so ~64k words/task keeps tasks in
# the tens of milliseconds; the cap at defaultParallelism keeps a 100M
# unique-word corpus at full cluster width while a test corpus runs the
# whole round in ONE task instead of paying 32-task scheduling per round.
WORDS_PER_PARTITION = 65536
# Driver-loop bound: each merge is 2 tiny Spark jobs; a caller asking
# for a GPT-scale vocabulary (tens of thousands of merges) should run
# batched rounds with checkpointing, not this loop — refuse loudly.
MAX_MERGES = 4096
# Unique-word bound for the DRIVER merge loop: below it the whole
# merge iteration runs in-process on the collected (tok, freq) table
# (bounded: <= ~1.5 MB of driver rows) instead of paying n_merges
# Spark actions at ~0.2 s fixed overhead each — the train-then-
# broadcast dispatch (guide §5: the model fits on the driver, so the
# iteration belongs there; embedding_near_dup's EXACT/LSH dispatch is
# the same shape).  The in-process loop is the published algorithm
# (py_learn_bpe's core) whose output the oracle gate already proves
# IDENTICAL to the distributed loop; above the bound the distributed
# loop runs unchanged.  Env-overridable for A/B and forced-distributed
# tests.
DRIVER_BPE_MAX_WORDS = int(
    os.environ.get("SPARK_GRAFT_BPE_DRIVER_WORDS", 65536)
)

ORACLE_SF_DIR_ENV = "SPARK_GRAFT_ORACLE_SF_DIR"
DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, freq, syms): unique lowercase whitespace words with corpus
    frequency and the initial symbol sequence (characters + ``</w>``).

    This is the ONE corpus-wide pass; everything after runs on its
    output.  The char split happens after the groupBy, on unique words
    only.
    """
    return (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "syms", F.concat(F.split(F.col("tok"), ""), F.array(F.lit(EOW)))
        )
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word frequency.

    Overlapping occurrences count (``aaaa`` has three ``(a,a)``
    pairs), matching the reference algorithm's per-position scan.  The
    ``size >= 2`` filter keeps ANSI mode's sequence() off descending
    ranges; after ``</w>`` is appended every real word passes it.
    """
    return (
        words.where(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def _merge_fold(left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent ``(left, right)`` in the
    ``syms`` array, as a fold: if the accumulator's last element is
    ``left`` and the current symbol is ``right``, replace the last
    element with the merged symbol (a just-merged product can never
    retrigger: ``left + right == left`` would need an empty right).
    The size guard is the And's LEFT operand — Spark's And
    short-circuits, keeping ANSI element_at off empty accumulators.
    """
    ll, rr, merged = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == ll) & (s == rr),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def learn_bpe(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Run the merge loop.  Returns ``(merges, final_words)`` where
    ``merges`` is the learned ``[(left, right, pair_freq), ...]`` in
    rank order and ``final_words`` is the fully-segmented unique-word
    table (tok, freq, syms): a driver LocalRelation when the vocabulary
    fit the ``DRIVER_BPE_MAX_WORDS`` dispatch bound, otherwise the
    CHECKPOINTED distributed table — either way the caller releases it
    via :func:`release_checkpoint` (a no-op on the local form), either
    directly or through ``release_cached`` on a result tagged with
    :class:`_CheckpointDep`.

    Stops early when the best pair's frequency drops below
    ``min_pair_freq`` (the classic stopping rule: merging hapax pairs
    memorizes the corpus).
    """
    if n_merges > MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges} exceeds MAX_MERGES={MAX_MERGES}: "
            "the merge loop is a driver-paced sequence of small jobs; "
            "GPT-scale vocabularies need batched rounds with "
            "checkpointed lineage, not this entry point"
        )
    cached = word_freq_table(docs, text_col).persist()
    # Bounded-dispatch probe (one action): when the unique-word table
    # fits the driver bound, the whole merge iteration runs in-process
    # on the collected (tok, freq) rows — n_merges Spark actions at
    # ~0.2 s fixed overhead each collapse into microseconds of Python
    # over a dictionary-sized table (guide §5: the model-sized loop
    # belongs on the driver; train-then-broadcast).  limit(N+1) bounds
    # the collect even when the corpus is huge; the N+1th row routes
    # to the distributed loop below, which runs unchanged.
    probe = cached.select("tok", "freq").limit(
        DRIVER_BPE_MAX_WORDS + 1
    ).collect()
    if len(probe) <= DRIVER_BPE_MAX_WORDS:
        cached.unpersist()
        spark = docs.sparkSession
        freqs = {r["tok"]: int(r["freq"]) for r in probe}
        merges, syms = _py_merge_loop(freqs, n_merges, min_pair_freq)
        from pyspark.sql import types as T

        words_schema = T.StructType(
            [
                T.StructField("tok", T.StringType(), False),
                T.StructField("freq", T.LongType(), False),
                T.StructField("syms", T.ArrayType(T.StringType(), True), False),
            ]
        )
        words = local_relation(
            spark,
            [(w, freqs[w], syms[w]) for w in sorted(freqs)],
            words_schema,
        )
        return merges, words
    # One bounded count materializes the corpus pass and sizes the loop
    # partitioning: every merge round inherits this layout (the rewrite
    # is a narrow per-row fold), so round cost tracks |unique words|,
    # not the session's shuffle-partition default.
    n_unique = cached.count()
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(n_unique // WORDS_PER_PARTITION + 1, parallelism))
    # The loop base is an EAGER checkpoint; every successor is a LAZY
    # one (eager=False) that materializes inside the NEXT round's
    # argmax action — one Spark job per round instead of two.  The
    # predecessor's blocks are therefore released only AFTER the argmax
    # collect that is guaranteed to have materialized the successor, so
    # no round ever needs the truncated lineage it could not replay.
    words = cached.coalesce(parts).localCheckpoint()
    cached.unpersist()
    prev: DataFrame | None = None
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            _pair_counts(words)
            .orderBy(
                F.desc("pair_freq"), F.asc("left"), F.asc("right")
            )
            .limit(1)
            .collect()
        )
        # `words` is materialized now; its predecessor is safe to drop.
        if prev is not None:
            release_checkpoint(prev)
            prev = None
        if not best or best[0]["pair_freq"] < min_pair_freq:
            break
        left, right, freq = (
            best[0]["left"], best[0]["right"], int(best[0]["pair_freq"])
        )
        merges.append((left, right, freq))
        words, prev = (
            words.withColumn("syms", _merge_fold(left, right))
            .localCheckpoint(eager=False),
            words,
        )
    if prev is not None:
        # Loop exhausted n_merges with the final fold still lazy: one
        # bounded count materializes it so the predecessor can go.
        words.count()
        release_checkpoint(prev)
    return merges, words


def bpe_merges(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> DataFrame:
    """The learned merge table: (rank, left, right, pair_freq), rank
    1-based in learning order.  All loop intermediates are released
    before returning — the result is a literal table of the collected
    merges (bounded by ``n_merges``)."""
    spark = docs.sparkSession
    merges, words = learn_bpe(docs, n_merges, text_col, min_pair_freq)
    release_checkpoint(words)
    return spark.createDataFrame(
        [
            (i + 1, left, right, freq)
            for i, (left, right, freq) in enumerate(merges)
        ],
        "rank INT, left STRING, right STRING, pair_freq BIGINT",
    )


def bpe_doc_tokens(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> DataFrame:
    """Per-document token counts under the learned segmentation:
    (doc_id, n_words, n_bpe_tokens) — the sequence-length accounting a
    packing/budgeting stage needs before sharding a corpus.

    The final word table is joined back to the corpus token stream on
    the word key (AQE broadcasts it when the vocabulary is small) and
    rolled up per document.  Carries the persisted word table as a
    cached dep — release with ``release_cached`` after materializing.
    """
    merges, words = learn_bpe(docs, n_merges, text_col, min_pair_freq)
    pieces = words.select("tok", F.size("syms").alias("n_pieces"))
    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    out = (
        stream.join(pieces, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_bpe_tokens"),
        )
    )
    return attach_cached_deps(out, _CheckpointDep(words))


def bpe_vocab(words: DataFrame) -> DataFrame:
    """(piece, piece_id): the emitted vocabulary — every distinct
    symbol in the final segmentation, ids dense 1..V in piece string
    order.  The rank window is UNPARTITIONED but bounded by
    construction: |vocab| <= |alphabet| + n_merges (every merge adds
    at most one new symbol), i.e. dozens-to-thousands of rows
    regardless of corpus size — the `encode_token_ids` small-vocab
    rationale."""
    w = Window.orderBy(F.asc("piece"))
    return (
        words.select(F.explode("syms").alias("piece"))
        .distinct()
        .withColumn("piece_id", F.row_number().over(w))
    )


def bpe_encode_docs(
    docs: DataFrame,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> DataFrame:
    """(doc_id, n_tokens, token_ids): the corpus tokenized under the
    learned BPE — the actual encode step a pre-training pipeline runs
    before sequence packing (``pack_sequences`` consumes exactly this
    shape).

    Plan: the final unique-word segmentation joins back to the
    position-indexed corpus token stream (a dictionary join AQE
    broadcasts — the word table is bounded by |unique words|); pieces
    explode with their in-word position; piece ids attach via the
    bounded-vocab broadcast; per-doc sequences reassemble with one
    ``array_sort(collect_list(struct(word_pos, piece_pos, id)))`` —
    the (word_pos, piece_pos) sort key makes the collected order
    deterministic under any partitioning.  One shuffle on doc_id.
    """
    merges, words = learn_bpe(docs, n_merges, text_col, min_pair_freq)
    vocab = bpe_vocab(words)
    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "word_pos", "tok"
        ),
    )
    pieces = (
        stream.join(words.select("tok", "syms"), "tok")
        .select(
            "doc_id", "word_pos",
            F.posexplode("syms").alias("piece_pos", "piece"),
        )
        .join(F.broadcast(vocab), "piece")
    )
    out = (
        pieces.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("word_pos", "piece_pos", "piece_id")
                    )
                ),
                lambda s: s.piece_id,
            ).alias("token_ids"),
        )
    )
    return attach_cached_deps(out, _CheckpointDep(words))


def oracle_bpe_encode_docs_sql(
    table: str = "documents",
    t: str = "text",
    n_merges: int = N_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> str:
    """Hybrid oracle: the twin supplies the (tok -> pieces) dictionary
    as VALUES of list literals; vocabulary numbering, the position-
    indexed stream, the dictionary join, and the ordered per-doc
    reassembly all run as REAL SQL in DuckDB."""
    _, syms = py_learn_bpe(_oracle_texts(table, t), n_merges, min_pair_freq)
    if not syms:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(NULL AS BIGINT) AS n_tokens, "
            "[CAST(NULL AS INT)] AS token_ids WHERE FALSE"
        )
    dict_rows = ", ".join(
        "('{}', [{}])".format(
            _q(w), ", ".join(f"'{_q(p)}'" for p in s)
        )
        for w, s in sorted(syms.items())
    )
    return f"""
        WITH pieces_dict(tok, pieces) AS (VALUES {dict_rows}),
        vocab AS (
            SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY piece ASC) AS INT)
                   AS piece_id
            FROM (SELECT DISTINCT unnest(pieces) AS piece FROM pieces_dict)
        ),
        toks AS (
            SELECT doc_id, {_sql_tokens(f"lower({t})")} AS tl FROM {table}
        ),
        stream AS (
            SELECT doc_id, i - 1 AS word_pos, tl[i] AS tok
            FROM (SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS i
                  FROM toks)
        ),
        doc_pieces AS (
            SELECT doc_id, word_pos, j - 1 AS piece_pos, pieces[j] AS piece
            FROM (SELECT s.doc_id, s.word_pos, d.pieces,
                         unnest(range(1, len(d.pieces) + 1)) AS j
                  FROM stream s JOIN pieces_dict d USING (tok))
        )
        SELECT p.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               list(v.piece_id ORDER BY p.word_pos, p.piece_pos)
                   AS token_ids
        FROM doc_pieces p JOIN vocab v USING (piece)
        GROUP BY p.doc_id
    """


# ---------------------------------------------------------------------------
# Pure-Python twin (oracle + property tests)
# ---------------------------------------------------------------------------

def py_learn_bpe(
    texts: list[str],
    n_merges: int = N_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> tuple[list[tuple[str, str, int]], dict[str, list[str]]]:
    """Independent reimplementation of the merge loop (per Sennrich et
    al.'s published algorithm) used as the cross-engine oracle.
    Returns (merges, final segmentation per unique word)."""
    freqs: Counter[str] = Counter()
    for t in texts:
        for w in re.split(r"\s+", (t or "").lower()):
            if w:
                freqs[w] += 1
    return _py_merge_loop(freqs, n_merges, min_pair_freq)


def _py_merge_loop(
    freqs: dict[str, int],
    n_merges: int = N_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> tuple[list[tuple[str, str, int]], dict[str, list[str]]]:
    """The merge iteration over an already-aggregated unique-word
    frequency table — shared by the oracle twin (which derives
    ``freqs`` from raw texts) and ``learn_bpe``'s bounded driver
    dispatch (which collects the distributed word-frequency table).
    Same argmax tie-break ((freq DESC, left ASC, right ASC)), same
    greedy left-to-right fold, same stopping rule as the distributed
    loop — the oracle gate hash-proves the equivalence."""
    syms: dict[str, list[str]] = {w: list(w) + [EOW] for w in freqs}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pair_freq: Counter[tuple[str, str]] = Counter()
        for w, s in syms.items():
            f = freqs[w]
            for i in range(len(s) - 1):
                pair_freq[(s[i], s[i + 1])] += f
        if not pair_freq:
            break
        (left, right), freq = min(
            pair_freq.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if freq < min_pair_freq:
            break
        merges.append((left, right, freq))
        for w, s in syms.items():
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def _q(s: str) -> str:
    """SQL single-quote escape for VALUES literals (the synthetic corpus
    has no quotes, but the oracle must not break on real text)."""
    return s.replace("'", "''")


def _oracle_texts(table: str, t: str) -> list[str]:
    """The documents text column read straight from the gate's parquet
    (the driver compares at sf0.01; tools/check_oracle.py exports the
    dir it registered so the twin recomputes on identical bytes)."""
    import duckdb

    sf_dir = os.environ.get(ORACLE_SF_DIR_ENV, DEFAULT_ORACLE_SF_DIR)
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {t} FROM read_parquet('{sf_dir}/{table}.parquet')"
    ).fetchall()
    con.close()
    return [r[0] for r in rows]


def oracle_bpe_merges_sql(
    table: str = "documents",
    t: str = "text",
    n_merges: int = N_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> str:
    """VALUES-literal oracle: the merge table recomputed by the
    pure-Python twin on the same parquet (the multimodal oracle
    pattern, data-driven)."""
    merges, _ = py_learn_bpe(_oracle_texts(table, t), n_merges, min_pair_freq)
    if not merges:
        return (
            "SELECT CAST(NULL AS INT) AS rank, '' AS left, '' AS right, "
            "CAST(NULL AS BIGINT) AS pair_freq WHERE FALSE"
        )
    rows = ", ".join(
        f"({i + 1}, '{_q(left)}', '{_q(right)}', {freq})"
        for i, (left, right, freq) in enumerate(merges)
    )
    return (
        'SELECT CAST(rank AS INT) AS "rank", "left", "right", '
        "CAST(pair_freq AS BIGINT) AS pair_freq FROM (VALUES "
        + rows
        + ') AS m("rank", "left", "right", pair_freq) ORDER BY "rank"'
    )


def oracle_bpe_doc_tokens_sql(
    table: str = "documents",
    t: str = "text",
    n_merges: int = N_MERGES,
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> str:
    """Hybrid oracle: the segmentation lengths come from the Python
    twin as a VALUES dictionary; the corpus rollup stays real SQL over
    the parquet view, so the join/aggregate shape is still checked by
    DuckDB rather than precomputed."""
    _, syms = py_learn_bpe(_oracle_texts(table, t), n_merges, min_pair_freq)
    if not syms:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(NULL AS BIGINT) AS n_words, "
            "CAST(NULL AS BIGINT) AS n_bpe_tokens WHERE FALSE"
        )
    dict_rows = ", ".join(
        f"('{_q(w)}', {len(s)})" for w, s in sorted(syms.items())
    )
    return f"""
        WITH pieces(tok, n_pieces) AS (VALUES {dict_rows}),
        stream AS (
            SELECT doc_id, unnest({_sql_tokens(f"lower({t})")}) AS tok
            FROM {table}
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(p.n_pieces) AS BIGINT) AS n_bpe_tokens
        FROM stream s JOIN pieces p USING (tok)
        GROUP BY s.doc_id
    """


# ---------------------------------------------------------------------------
# Persisted tokenizer model: train once, encode forever (r8 — the
# serving discipline annindex.py applies to PQ, applied to BPE: a
# pre-training pipeline learns merges ONCE offline and every encode
# job thereafter must never pay a merge round).
# ---------------------------------------------------------------------------

# Explicit read schemas — an empty-corpus model directory has no
# parquet files to infer from (the annindex.py discipline).
MERGES_SCHEMA = "rank INT, left STRING, right STRING, pair_freq BIGINT"
WORDS_SCHEMA = "tok STRING, syms ARRAY<STRING>"
VOCAB_SCHEMA = "piece STRING, piece_id INT"

_FOLD_CHECKPOINT_EVERY = 8  # cap nested higher-order-fold plan depth


def write_bpe_model(
    docs: DataFrame,
    path: str,
    n_merges: int = N_MERGES,
    text_col: str = "text",
    min_pair_freq: int = MIN_PAIR_FREQ,
) -> dict:
    """One training pass -> three parquet tables: ``merges`` (the
    ranked merge list — what a tokenizer release ships), ``words``
    (the segmented unique-word dictionary — the encode fast path),
    ``vocab`` (piece -> dense id).  Returns row counts."""
    from pyspark.sql import Observation

    spark = docs.sparkSession
    merges, words = learn_bpe(docs, n_merges, text_col, min_pair_freq)
    # three INDEPENDENT writes (all read the materialized word table /
    # driver-local merge list) — overlap their job latencies (§2.6);
    # the words/vocab manifest counts ride the write jobs as OBSERVED
    # metrics (equal to the r12 read-back receipt by the all-or-nothing
    # parquet commit, zero extra actions)
    obs_w = Observation("bpe_words_receipt")
    obs_v = Observation("bpe_vocab_receipt")
    n_count = F.count(F.lit(1)).alias("n")
    run_jobs(
        lambda: spark.createDataFrame(
            [(i, l, r, f) for i, (l, r, f) in enumerate(merges)],
            MERGES_SCHEMA,
        ).write.mode("overwrite").parquet(f"{path}/merges"),
        lambda: bpe_vocab(words)
        .observe(obs_v, n_count)
        .write.mode("overwrite")
        .parquet(f"{path}/vocab"),
        lambda: words.select("tok", "syms")
        .observe(obs_w, n_count)
        .write.mode("overwrite")
        .parquet(f"{path}/words"),
    )
    release_checkpoint(words)
    return {
        "merges": len(merges),
        "words": observed_count(obs_w),
        "vocab": observed_count(obs_v),
    }


def _segment_new_words(new_words: DataFrame, merges: list) -> DataFrame:
    """Replay the ranked merge list over UNSEEN words (char-split +
    greedy folds — the real BPE apply step).  The input is the
    batch's unique-word table minus the dictionary (Heaps-bounded);
    lazy localCheckpoints every few folds keep the nested
    higher-order-expression depth constant."""
    seg = new_words.withColumn(
        "syms", F.concat(F.split(F.col("tok"), ""), F.array(F.lit(EOW)))
    )
    for i, (left, right, _) in enumerate(merges):
        seg = seg.withColumn("syms", _merge_fold(left, right))
        if (i + 1) % _FOLD_CHECKPOINT_EVERY == 0:
            seg = seg.localCheckpoint(eager=False)
    return seg.select("tok", "syms")


def encode_with_model(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, token_ids) against the PERSISTED model —
    zero merge rounds.  Seen words hit the dictionary join (the
    common case: the dictionary was built from the pre-training
    corpus); unseen words are segmented by replaying the ranked merge
    list (bounded: the batch's NEW unique words only), exactly
    Sennrich's apply step.  Pieces outside the trained vocabulary
    (characters the founding corpus never saw) are dropped by the
    vocab join — the standard OOV-byte fallback belongs to a
    byte-level variant, not this word-level one.

    On the training corpus itself this reproduces
    :func:`bpe_encode_docs` bit-for-bit (same dictionary, same joins,
    no unseen words), so the gate reuses that oracle."""
    spark = docs.sparkSession
    words = spark.read.schema(WORDS_SCHEMA).parquet(f"{path}/words")
    vocab = spark.read.schema(VOCAB_SCHEMA).parquet(f"{path}/vocab")
    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "word_pos", "tok"
        ),
    )
    new_words = (
        stream.select("tok").distinct().join(words, "tok", "left_anti")
    )
    dictionary = words
    if new_words.limit(1).count() > 0:
        merges = [
            (r["left"], r["right"], r["pair_freq"])
            for r in spark.read.schema(MERGES_SCHEMA)
            .parquet(f"{path}/merges")
            .orderBy("rank")
            .collect()
        ]
        dictionary = words.unionByName(
            _segment_new_words(new_words, merges)
        )
    pieces = (
        stream.join(dictionary, "tok")
        .select(
            "doc_id", "word_pos",
            F.posexplode("syms").alias("piece_pos", "piece"),
        )
        .join(F.broadcast(vocab), "piece")
    )
    return pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("word_pos", "piece_pos", "piece_id")
                )
            ),
            lambda s: s.piece_id,
        ).alias("token_ids"),
    )
