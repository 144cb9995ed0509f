"""Distributed unigram-LM tokenizer induction (Kudo 2018, "Subword
Regularization", arXiv:1804.10959) — the OTHER tokenizer family
production pipelines train (SentencePiece's default), alongside the
BPE loop in ``operators/bpe.py``.

Reference scope: none (the reference pipeline has no text surface,
scripts/data_quality.py stops at row counts) — extension coverage for
the pre-training corpus tier, same rationale as bpe.py.

Algorithm (deterministic hard-EM variant):

1. **Seed vocabulary**: every substring of the unique-word table up to
   ``PIECE_MAX_LEN`` chars with corpus frequency >= ``MIN_PIECE_FREQ``,
   plus ALL single characters (the coverage guarantee — Viterbi can
   always fall back to a character path, Kudo §3.2's seed heuristic).
2. **EM rounds**: E-step segments each unique word by VITERBI under
   the current piece costs (hard EM — the max-derivation counts, not
   forward-backward expectations: every quantity stays an exact
   64-bit integer, which is what makes the result value-hash
   reproducible cross-engine); M-step re-scores pieces as
   ``cost(v) = L(total) - L(count(v) + 1)`` where ``L`` is the
   fixed-point log2 from ``functions/detmath.py`` (Q*.20, no libm)
   and the +1 is add-one smoothing so unused pieces stay finite.
3. **Prune** to ``VOCAB_SIZE`` pieces by (final count desc, piece asc),
   always keeping single characters, then re-score over the pruned
   set and re-segment — the final (tok -> pieces) dictionary.

Plan shape (100 TB notes):

- The corpus is touched ONCE (the same explode+groupBy word-frequency
  pass as BPE; Heaps' law bounds the word table at ~100M rows for a
  100 TB corpus).  Every EM round runs on unique words only.
- The Viterbi DP is a native Spark expression: one
  ``aggregate(sequence(1, length(tok)), ...)`` fold per word whose
  accumulator carries the best-cost/backpointer array, with piece
  costs supplied by a per-word ``map_from_entries`` built from ONE
  broadcast join of the word's distinct substrings against the
  bounded piece table.  Interpreted higher-order lambdas — the
  documented bpe.py tradeoff: they run on the REDUCED word table,
  never the corpus.  The corpus-side passes (tokenize+count, the
  final dictionary join in ``unigram_encode_docs``) stay inside
  whole-stage codegen.
- Each round's bounded piece-count table is eagerly
  local-checkpointed (the bpe.py lineage-cut discipline), so round k
  never replays rounds 1..k-1 and the plan depth stays constant.
- Determinism: counts are exact LONG sums; costs are detmath
  fixed-point integers; the DP tie-break is ``array_min`` over
  (cost, start-position) structs — field-by-field struct ordering,
  identical to the Python twin's ``min()`` on (cost, j) tuples.
"""

from __future__ import annotations

import os
import re
from collections import Counter

from pyspark.sql import DataFrame, Window
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
from retail_etl_pipeline_airflow_s3_athena_spark.functions.detmath import (
    attach_det_log2_e20,
    log2_e20,
    log2_table_df,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators.bpe import _oracle_texts, _q
from retail_etl_pipeline_airflow_s3_athena_spark.operators.text import (
    _sql_tokens,
    tokens,
)

PIECE_MAX_LEN = 4
MIN_PIECE_FREQ = 2
EM_ROUNDS = 2
VOCAB_SIZE = 48
# Unique-word bound for the DRIVER EM loop (the learn_bpe dispatch
# rationale: the model-sized iteration belongs on the driver; the
# distributed loop serves corpora whose vocabulary exceeds it).  The
# py Viterbi is O(words · len · PIECE_MAX_LEN) per round — ~ms at this
# bound.  Env-overridable for A/B and forced-distributed tests.
DRIVER_UNIGRAM_MAX_WORDS = int(
    os.environ.get("SPARK_GRAFT_UNIGRAM_DRIVER_WORDS", 65536)
)


def _word_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, freq): the ONE corpus-wide pass (bpe.word_freq_table
    without the char-split column — unigram segments substrings, not
    symbol sequences)."""
    return (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


_SUBSTRINGS_EXPR = (
    "flatten(transform(sequence(0, length(tok) - 1),"
    " i -> transform(sequence(1, least({L}, length(tok) - i)),"
    " l -> substring(tok, i + 1, l))))"
).format(L=PIECE_MAX_LEN)


def _seed_pieces(words: DataFrame) -> DataFrame:
    """(piece, cnt): corpus frequency of every <=PIECE_MAX_LEN-char
    substring (overlapping occurrences count, weighted by word freq),
    thresholded at MIN_PIECE_FREQ except single characters (always
    kept — the Viterbi coverage guarantee)."""
    return (
        words.select("freq", F.explode(F.expr(_SUBSTRINGS_EXPR)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .filter(
            (F.col("cnt") >= MIN_PIECE_FREQ) | (F.length("piece") == 1)
        )
    )


def _score(counts: DataFrame, log_df: DataFrame) -> DataFrame:
    """(piece, cost_e20): add-one-smoothed negative log2 probability in
    Q*.20 fixed point — cost = L(total) - L(cnt + 1), both via the
    shared detmath mantissa table (one broadcast join each)."""
    smoothed = counts.withColumn("sm", F.col("cnt") + F.lit(1).cast("long"))
    total = smoothed.agg(
        F.sum(F.col("sm").cast("decimal(38,0)")).cast("long").alias("tot")
    )
    x = smoothed.crossJoin(F.broadcast(total))
    x = attach_det_log2_e20(x, "tot", "l_tot", log_df)
    x = attach_det_log2_e20(x, "sm", "l_sm", log_df)
    return x.select(
        "piece", (F.col("l_tot") - F.col("l_sm")).alias("cost_e20")
    )


_DP_EXPR = f"""
    aggregate(
        sequence(1, length(tok)),
        array(named_struct('c', 0L, 'j', -1)),
        (acc, t) -> array_append(acc,
            array_min(
                filter(
                    transform(
                        sequence(greatest(0, t - {PIECE_MAX_LEN}), t - 1),
                        j -> named_struct(
                            'c', element_at(acc, j + 1).c
                                 + try_element_at(
                                       pmap, substring(tok, j + 1, t - j)),
                            'j', j)),
                    x -> x.c IS NOT NULL))))
"""

_BACKTRACK_EXPR = """
    aggregate(
        sequence(1, length(tok)),
        named_struct(
            'pos', length(tok), 'ps', cast(array() as array<string>)),
        (acc, x) -> IF(acc.pos <= 0, acc,
            named_struct(
                'pos', element_at(dp, acc.pos + 1).j,
                'ps', concat(
                    array(substring(
                        tok,
                        element_at(dp, acc.pos + 1).j + 1,
                        acc.pos - element_at(dp, acc.pos + 1).j)),
                    acc.ps))),
        acc -> acc.ps)
"""


def _viterbi(
    words: DataFrame, scores: DataFrame, sub_pairs: DataFrame | None = None
) -> DataFrame:
    """(tok, freq, pieces): minimum-cost segmentation of each unique
    word under ``scores``.

    ``sub_pairs`` is the reusable distinct (tok, piece) substring
    table (persist it across EM rounds — it never changes).  The DP is
    the textbook lattice fold: best[t] = min over j of best[j] +
    cost(tok[j:t]), tie-broken (cost asc, j asc) by struct ordering;
    backtracking walks the stored pointers.  Single characters are
    always in the vocabulary, so every position is reachable and
    ``array_min`` never sees an empty candidate set."""
    if sub_pairs is None:
        sub_pairs = words.select(
            "tok", F.explode(F.expr(_SUBSTRINGS_EXPR)).alias("piece")
        ).distinct()
    pmaps = (
        sub_pairs.join(F.broadcast(scores), "piece")
        .groupBy("tok")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("piece", "cost_e20"))
            ).alias("pmap")
        )
    )
    return (
        words.join(pmaps, "tok")
        .withColumn("dp", F.expr(_DP_EXPR))
        .withColumn("pieces", F.expr(_BACKTRACK_EXPR))
        .select("tok", "freq", "pieces")
    )


def learn_unigram(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """Run the hard-EM loop.  Returns ``(vocab, final_words)``:
    ``vocab`` = (piece, freq, cost_e20) for the pruned vocabulary,
    ``final_words`` = the (tok, freq, pieces) dictionary under that
    vocabulary — driver LocalRelations when the vocabulary fit the
    ``DRIVER_UNIGRAM_MAX_WORDS`` dispatch bound, otherwise
    CHECKPOINTED distributed tables (caller owns the release either
    way, the learn_bpe contract; ``release_checkpoint`` no-ops on the
    local form)."""
    spark = docs.sparkSession
    # Bounded-dispatch probe (one action): when the unique-word table
    # fits the driver bound, the whole EM iteration runs in-process on
    # the collected (tok, freq) rows — every per-round checkpoint job
    # (~0.2 s fixed overhead each) collapses into Python over a
    # dictionary-sized table (guide §5; the learn_bpe dispatch).  The
    # in-process loop is the published algorithm (py_learn_unigram's
    # core) whose output the oracle gate already proves IDENTICAL to
    # the distributed loop; above the bound the distributed loop runs
    # unchanged.
    cached = _word_table(docs, text_col).persist()
    probe = cached.limit(DRIVER_UNIGRAM_MAX_WORDS + 1).collect()
    if len(probe) <= DRIVER_UNIGRAM_MAX_WORDS:
        cached.unpersist()
        freqs = {r["tok"]: int(r["freq"]) for r in probe}
        # empty corpus: no words, no pieces (the distributed loop's
        # empty tables flow through; the py scorer would divide by a
        # zero total)
        out_vocab, seg = (
            _py_unigram_from_freqs(freqs, rounds, vocab_size)
            if freqs
            else ({}, {})
        )
        from pyspark.sql import types as T

        vocab_schema = T.StructType(
            [
                T.StructField("piece", T.StringType(), False),
                T.StructField("freq", T.LongType(), False),
                T.StructField("cost_e20", T.LongType(), False),
            ]
        )
        words_schema = T.StructType(
            [
                T.StructField("tok", T.StringType(), False),
                T.StructField("freq", T.LongType(), False),
                T.StructField(
                    "pieces", T.ArrayType(T.StringType(), True), False
                ),
            ]
        )
        vocab_local = local_relation(
            spark,
            [
                (p, int(f), int(c))
                for p, (f, c) in sorted(out_vocab.items())
            ],
            vocab_schema,
        )
        words_local = local_relation(
            spark,
            [(w, int(freqs[w]), seg[w]) for w in sorted(freqs)],
            words_schema,
        )
        return vocab_local, words_local
    log_df = log2_table_df(spark)
    words = cached.localCheckpoint()
    cached.unpersist()
    sub_pairs = words.select(
        "tok", F.explode(F.expr(_SUBSTRINGS_EXPR)).alias("piece")
    ).distinct().localCheckpoint()

    seed = _seed_pieces(words).localCheckpoint()
    counts = seed
    prev = None
    for _ in range(rounds):
        scores = _score(counts, log_df)
        seg = _viterbi(words, scores, sub_pairs)
        used = (
            seg.select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("used_cnt"))
        )
        # M-step over the FULL seed vocabulary: unused pieces keep a
        # zero count (smoothed to 1 at scoring) so they stay available
        # but expensive — the standard hard-EM self-reinforcement
        counts, prev = (
            seed.select("piece")
            .join(used, "piece", "left")
            .select(
                "piece",
                F.coalesce("used_cnt", F.lit(0).cast("long")).alias("cnt"),
            )
            .localCheckpoint(),
            counts,
        )
        if prev is not seed:
            release_checkpoint(prev)
    # prune: top-N by (count desc, piece asc) + every single character.
    # The rank window is UNPARTITIONED but bounded by construction
    # (|seed vocab| is Heaps-bounded substring counts, never corpus
    # rows) — the bpe_vocab small-vocab rationale.
    w = Window.orderBy(F.desc("cnt"), F.asc("piece"))
    pruned = (
        counts.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= vocab_size) | (F.length("piece") == 1))
        .select("piece", "cnt")
    )
    final_scores = _score(pruned, log_df)
    final_words = _viterbi(words, final_scores, sub_pairs).localCheckpoint()
    vocab = pruned.join(final_scores, "piece").select(
        "piece", F.col("cnt").alias("freq"), "cost_e20"
    )
    vocab = vocab.localCheckpoint()
    release_checkpoint(counts)
    release_checkpoint(seed)
    release_checkpoint(sub_pairs)
    release_checkpoint(words)
    return vocab, final_words


def unigram_vocab(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> DataFrame:
    """The pruned unigram vocabulary: (piece, freq, cost_e20), piece
    order.  ``freq`` is the final hard-EM Viterbi count (word-frequency
    weighted); ``cost_e20`` the fixed-point negative log2 probability
    the encoder minimizes."""
    spark = docs.sparkSession
    vocab, final_words = learn_unigram(docs, text_col, rounds, vocab_size)
    rows = [
        (r["piece"], int(r["freq"]), int(r["cost_e20"]))
        for r in vocab.orderBy("piece").collect()
    ]
    release_checkpoint(final_words)
    release_checkpoint(vocab)
    # bounded literal result (the bpe_merges pattern): |vocab| <=
    # vocab_size + |alphabet| rows regardless of corpus size
    return spark.createDataFrame(
        rows, "piece STRING, freq BIGINT, cost_e20 BIGINT"
    ).orderBy("piece")


def unigram_encode_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> DataFrame:
    """(doc_id, n_tokens, token_ids): the corpus tokenized under the
    learned unigram model — the bpe_encode_docs shape (pack_sequences
    consumes it), with Viterbi segmentation instead of merge replay.

    Plan: identical to bpe_encode_docs — the final unique-word
    dictionary joins back to the position-indexed corpus stream (AQE
    broadcasts the Heaps-bounded word table), pieces explode with
    in-word positions, ids attach from the bounded emitted-piece
    vocabulary, per-doc reassembly via one
    array_sort(collect_list(struct(...))).  One shuffle on doc_id."""
    vocab, final_words = learn_unigram(docs, text_col, rounds, vocab_size)
    release_checkpoint(vocab)
    idw = Window.orderBy(F.asc("piece"))
    emitted = (
        final_words.select(F.explode("pieces").alias("piece"))
        .distinct()
        .withColumn("piece_id", F.row_number().over(idw))
    )
    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "word_pos", "tok"
        ),
    )
    pieces = (
        stream.join(final_words.select("tok", "pieces"), "tok")
        .select(
            "doc_id", "word_pos",
            F.posexplode("pieces").alias("piece_pos", "piece"),
        )
        .join(F.broadcast(emitted), "piece")
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
    return attach_cached_deps(out, _CheckpointDep(final_words))


# ---------------------------------------------------------------------------
# Persisted unigram model: train once, encode forever (the bpe.py
# write_bpe_model / annindex.py serving discipline applied to the
# third trainable family).  A pre-training pipeline learns the piece
# model ONCE offline; every encode job thereafter pays zero EM rounds
# — seen words hit the persisted dictionary join, unseen words run ONE
# Viterbi pass against the persisted piece costs (the SentencePiece
# apply step, bounded by the batch's new unique words).
# ---------------------------------------------------------------------------

# Explicit read schemas — an empty-corpus model directory has no
# parquet files to infer from (the annindex.py discipline).
UNIGRAM_SCORES_SCHEMA = "piece STRING, cost_e20 BIGINT"
UNIGRAM_WORDS_SCHEMA = "tok STRING, pieces ARRAY<STRING>"
UNIGRAM_VOCAB_SCHEMA = "piece STRING, piece_id INT"


def write_unigram_model(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> dict:
    """One training pass -> three parquet tables: ``scores`` (piece ->
    fixed-point cost — what the Viterbi apply step needs), ``words``
    (the segmented unique-word dictionary — the encode fast path),
    ``vocab`` (emitted piece -> dense id).  Returns row counts."""
    spark = docs.sparkSession
    from pyspark.sql import Observation

    vocab, final_words = learn_unigram(docs, text_col, rounds, vocab_size)
    idw = Window.orderBy(F.asc("piece"))
    # three INDEPENDENT writes (all read the materialized model
    # tables) — overlap their job latencies (§2.6); the manifest
    # counts ride the write jobs as OBSERVED metrics (equal to the r12
    # read-back receipt by the all-or-nothing parquet commit)
    obs = {t: Observation(f"unigram_{t}_receipt")
           for t in ("scores", "words", "vocab")}
    n_count = F.count(F.lit(1)).alias("n")
    run_jobs(
        lambda: vocab.select("piece", "cost_e20")
        .observe(obs["scores"], n_count)
        .write.mode("overwrite")
        .parquet(f"{path}/scores"),
        lambda: final_words.select("tok", "pieces")
        .observe(obs["words"], n_count)
        .write.mode("overwrite")
        .parquet(f"{path}/words"),
        lambda: (
            final_words.select(F.explode("pieces").alias("piece"))
            .distinct()
            .withColumn("piece_id", F.row_number().over(idw))
            .observe(obs["vocab"], n_count)
            .write.mode("overwrite")
            .parquet(f"{path}/vocab")
        ),
    )
    release_checkpoint(final_words)
    release_checkpoint(vocab)
    return {t: observed_count(obs[t]) for t in ("scores", "words", "vocab")}


def encode_with_unigram_model(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, token_ids) against the PERSISTED model —
    zero EM rounds.  Seen words hit the dictionary join (the common
    case); unseen words run one Viterbi pass against the persisted
    piece costs (bounded: the batch's NEW unique words only).  Words
    containing characters the founding corpus never saw are DROPPED
    (no character path exists in the lattice) — the word-level OOV
    convention, mirroring encode_with_model's vocab-join drop.

    On the training corpus itself this reproduces
    :func:`unigram_encode_docs` bit-for-bit (same dictionary, same
    numbering, no unseen words), so the gate reuses that oracle."""
    spark = docs.sparkSession
    dict_words = spark.read.schema(UNIGRAM_WORDS_SCHEMA).parquet(
        f"{path}/words"
    )
    scores = spark.read.schema(UNIGRAM_SCORES_SCHEMA).parquet(
        f"{path}/scores"
    )
    vocab = spark.read.schema(UNIGRAM_VOCAB_SCHEMA).parquet(f"{path}/vocab")
    batch_words = _word_table(docs, text_col)
    new_words = batch_words.join(dict_words, "tok", "left_anti")
    # encodable = every character has a piece path: anti-join each new
    # word's char set against the single-char score rows
    char_vocab = scores.filter(F.length("piece") == 1).select(
        F.col("piece").alias("ch")
    )
    bad = (
        new_words.select(
            "tok",
            F.explode(
                F.filter(F.split(F.col("tok"), ""), lambda x: x != F.lit(""))
            ).alias("ch"),
        )
        .join(F.broadcast(char_vocab), "ch", "left_anti")
        .select("tok")
        .distinct()
    )
    encodable = new_words.join(bad, "tok", "left_anti")
    new_seg = _viterbi(encodable, scores).select("tok", "pieces")
    all_words = dict_words.select("tok", "pieces").unionByName(new_seg)
    stream = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "word_pos", "tok"
        ),
    )
    pieces = (
        stream.join(all_words, "tok")
        .select(
            "doc_id", "word_pos",
            F.posexplode("pieces").alias("piece_pos", "piece"),
        )
        .join(F.broadcast(vocab), "piece")
    )
    return (
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


# ---------------------------------------------------------------------------
# Pure-Python twin (oracle + property tests) — integer-exact mirror of
# the Spark plan, same detmath L(), same tie-breaks.
# ---------------------------------------------------------------------------


def _py_score(counts: dict[str, int]) -> dict[str, int]:
    total = sum(c + 1 for c in counts.values())
    l_tot = log2_e20(total)
    return {p: l_tot - log2_e20(c + 1) for p, c in counts.items()}


def _py_viterbi(w: str, scores: dict[str, int]) -> list[str]:
    n = len(w)
    best: list[tuple[int, int]] = [(0, -1)] + [None] * n  # type: ignore
    for t in range(1, n + 1):
        cands = []
        for j in range(max(0, t - PIECE_MAX_LEN), t):
            c = scores.get(w[j:t])
            if c is not None:
                cands.append((best[j][0] + c, j))
        best[t] = min(cands)  # (cost asc, j asc) — the struct ordering
    ps: list[str] = []
    pos = n
    while pos > 0:
        j = best[pos][1]
        ps.insert(0, w[j:pos])
        pos = j
    return ps


def py_learn_unigram(
    texts: list[str],
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> tuple[dict[str, tuple[int, int]], dict[str, list[str]]]:
    """Independent reimplementation (per Kudo's published algorithm,
    hard-EM variant) used as the cross-engine oracle.  Returns
    (vocab: piece -> (freq, cost_e20), final segmentation per word)."""
    freqs: Counter[str] = Counter()
    for t in texts:
        for w in re.split(r"\s+", (t or "").lower()):
            if w:
                freqs[w] += 1
    return _py_unigram_from_freqs(freqs, rounds, vocab_size)


def _py_unigram_from_freqs(
    freqs: dict[str, int],
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> tuple[dict[str, tuple[int, int]], dict[str, list[str]]]:
    """The hard-EM iteration over an already-aggregated unique-word
    frequency table — shared by the oracle twin (which derives
    ``freqs`` from raw texts) and ``learn_unigram``'s bounded driver
    dispatch (which collects the distributed word table).  Same seed
    threshold, same smoothing, same prune and tie-breaks as the
    distributed loop — the oracle gate hash-proves the equivalence."""
    seed: Counter[str] = Counter()
    for w, f in freqs.items():
        for i in range(len(w)):
            for ln in range(1, min(PIECE_MAX_LEN, len(w) - i) + 1):
                seed[w[i : i + ln]] += f
    vocab = {
        p: c for p, c in seed.items() if c >= MIN_PIECE_FREQ or len(p) == 1
    }
    counts = dict(vocab)
    for _ in range(rounds):
        scores = _py_score(counts)
        counts = {p: 0 for p in vocab}
        for w, f in freqs.items():
            for piece in _py_viterbi(w, scores):
                counts[piece] += f
    ranked = sorted(counts, key=lambda p: (-counts[p], p))[:vocab_size]
    keep = set(ranked) | {p for p in vocab if len(p) == 1}
    pruned = {p: counts[p] for p in keep}
    final_scores = _py_score(pruned)
    seg = {w: _py_viterbi(w, final_scores) for w in freqs}
    out_vocab = {p: (pruned[p], final_scores[p]) for p in keep}
    return out_vocab, seg


def oracle_unigram_vocab_sql(
    table: str = "documents",
    t: str = "text",
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> str:
    """VALUES-literal oracle: the pruned vocabulary recomputed by the
    pure-Python twin on the same parquet (the bpe_merges pattern)."""
    vocab, _ = py_learn_unigram(_oracle_texts(table, t), rounds, vocab_size)
    if not vocab:
        return (
            "SELECT '' AS piece, CAST(NULL AS BIGINT) AS freq, "
            "CAST(NULL AS BIGINT) AS cost_e20 WHERE FALSE"
        )
    rows = ", ".join(
        f"('{_q(p)}', {c}, {s})"
        for p, (c, s) in sorted(vocab.items())
    )
    return (
        "SELECT piece, CAST(freq AS BIGINT) AS freq, "
        "CAST(cost_e20 AS BIGINT) AS cost_e20 FROM (VALUES "
        + rows
        + ") AS v(piece, freq, cost_e20) ORDER BY piece"
    )


def oracle_unigram_encode_docs_sql(
    table: str = "documents",
    t: str = "text",
    rounds: int = EM_ROUNDS,
    vocab_size: int = VOCAB_SIZE,
) -> str:
    """Hybrid oracle (the oracle_bpe_encode_docs_sql shape): the
    (tok -> pieces) dictionary comes from the Python twin as VALUES;
    piece numbering, the position-indexed stream, the dictionary join,
    and the ordered per-doc reassembly run as REAL SQL in DuckDB."""
    _, syms = py_learn_unigram(_oracle_texts(table, t), rounds, vocab_size)
    if not syms:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(NULL AS BIGINT) AS n_tokens, "
            "'' AS token_ids WHERE FALSE"
        )
    dict_rows = ", ".join(
        "('{}', [{}])".format(_q(w), ", ".join(f"'{_q(p)}'" for p in s))
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
               COALESCE(array_to_string(
                   list(v.piece_id ORDER BY p.word_pos, p.piece_pos), ','),
                   '') AS token_ids
        FROM doc_pieces p JOIN vocab v USING (piece)
        GROUP BY p.doc_id
    """
