"""Unigram-LM tokenizer induction (Kudo 2018, hard-EM variant):
Spark plan vs the pure-Python integer twin, Viterbi optimality,
coverage and pruning invariants.

Reference scope: none (the reference has no text surface) — extension
coverage for the pre-training corpus tier, the bpe.py rationale."""

from __future__ import annotations

from pyspark.sql import functions as F

from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    release_cached,
    release_checkpoint,
)
from retail_etl_pipeline_airflow_s3_athena_spark.functions.detmath import (
    log2_e20,
)
from retail_etl_pipeline_airflow_s3_athena_spark.operators import unigram as ug

TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "a catalog of catamarans",
    "the the the mat mat",
    "on a mat a cat sat",
]


def _docs(spark):
    return spark.createDataFrame(
        [(i, t, "src") for i, t in enumerate(TEXTS)],
        "doc_id LONG, text STRING, source STRING",
    )


def test_py_viterbi_picks_min_cost_segmentation():
    # costs: 'ca' + 't' (3+5=8) beats 'c'+'at' (6+4=10) and chars
    # (6+5+5=16); ties break toward the SMALLER start index j
    scores = {"c": 6, "a": 5, "t": 5, "ca": 3, "at": 4, "cat": 9}
    assert ug._py_viterbi("cat", scores) == ["ca", "t"]
    # unreachable multi-char path: falls back to single chars
    assert ug._py_viterbi("xq", {"x": 1, "q": 1}) == ["x", "q"]
    # tie between ('ca','t') and a hypothetical equal-cost split is
    # broken by struct ordering (cost, j): force equality
    scores2 = {"c": 2, "a": 2, "t": 2, "ca": 4, "at": 4}
    # 'c'+'at' = 2+4=6 via j path (0,1); 'ca'+'t' = 4+2=6 via (0,2);
    # at t=3 candidates are (6, j=1 for 'at') and (6, j=2 for 't'):
    # min picks j=1 -> last piece 'at'
    assert ug._py_viterbi("cat", scores2) == ["c", "at"]


def test_spark_matches_python_twin(spark):
    docs = _docs(spark)
    vocab, seg = ug.py_learn_unigram(TEXTS)
    got_v = [
        (r["piece"], r["freq"], r["cost_e20"])
        for r in ug.unigram_vocab(docs).collect()
    ]
    want_v = sorted((p, c, s) for p, (c, s) in vocab.items())
    assert got_v == want_v
    out = ug.unigram_encode_docs(docs)
    got_e = {
        r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
        for r in out.collect()
    }
    release_cached(out)
    # reconstruct expected ids: dense 1..V over distinct emitted
    # pieces in piece order (the bpe_vocab numbering)
    emitted = sorted({p for ps in seg.values() for p in ps})
    pid = {p: i + 1 for i, p in enumerate(emitted)}
    for i, t in enumerate(TEXTS):
        words = t.lower().split()
        ids = [pid[p] for w in words for p in seg[w]]
        assert got_e[i] == (len(ids), ids), (i, got_e[i], ids)


def test_vocab_invariants(spark):
    docs = _docs(spark)
    rows = ug.unigram_vocab(docs, vocab_size=10).collect()
    pieces = {r["piece"] for r in rows}
    chars = {ch for t in TEXTS for ch in t.lower() if not ch.isspace()}
    # every single character survives pruning (coverage guarantee)
    assert chars <= pieces
    # bounded: at most vocab_size + |alphabet| pieces
    assert len(rows) <= 10 + len(chars)
    # costs are consistent with the detmath scoring of final counts
    total = sum(r["freq"] + 1 for r in rows)
    for r in rows:
        assert r["cost_e20"] == log2_e20(total) - log2_e20(r["freq"] + 1)


def test_encode_ids_dense_and_lengths_consistent(spark):
    docs = _docs(spark)
    out = ug.unigram_encode_docs(docs)
    rows = out.collect()
    release_cached(out)
    all_ids = {i for r in rows for i in r["token_ids"]}
    assert all_ids == set(range(1, max(all_ids) + 1))
    for r in rows:
        assert r["n_tokens"] == len(r["token_ids"])
    # total pieces >= total words (each word is >= 1 piece)
    n_words = sum(len(t.split()) for t in TEXTS)
    assert sum(r["n_tokens"] for r in rows) >= n_words


def test_empty_and_null_text(spark):
    docs = spark.createDataFrame(
        [(0, None, "s"), (1, "", "s")],
        "doc_id LONG, text STRING, source STRING",
    )
    assert ug.unigram_vocab(docs).collect() == []
    out = ug.unigram_encode_docs(docs)
    assert out.collect() == []
    release_cached(out)


def test_persisted_model_reproduces_inline_encode(spark, tmp_path):
    """write_unigram_model -> encode_with_unigram_model on the training
    corpus == unigram_encode_docs bit-for-bit (the gate contract)."""
    docs = _docs(spark)
    path = str(tmp_path / "model")
    manifest = ug.write_unigram_model(docs, path)
    assert manifest["scores"] > 0 and manifest["words"] > 0
    got = {
        r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
        for r in ug.encode_with_unigram_model(docs, path).collect()
    }
    inline = ug.unigram_encode_docs(docs)
    want = {
        r["doc_id"]: (r["n_tokens"], list(r["token_ids"]))
        for r in inline.collect()
    }
    release_cached(inline)
    assert got == want and len(got) == len(TEXTS)


def test_persisted_model_handles_unseen_words(spark, tmp_path):
    """Serving batches carry NEW words: known-char words segment via
    one Viterbi pass against the persisted costs; words with characters
    the founding corpus never saw are dropped (word-level OOV)."""
    docs = _docs(spark)
    path = str(tmp_path / "model")
    ug.write_unigram_model(docs, path)
    batch = spark.createDataFrame(
        [(100, "catsmat thecat zebra9"), (101, "on a mat")],
        "doc_id LONG, text STRING",
    )
    rows = {
        r["doc_id"]: r
        for r in ug.encode_with_unigram_model(batch, path).collect()
    }
    # 'catsmat'/'thecat' are unseen but char-covered -> encoded;
    # 'zebra9' contains chars ('z','b','9') absent from the corpus ->
    # dropped; doc 101 is all dictionary words
    vocab, _seg = ug.py_learn_unigram(TEXTS)
    scores = {p: s for p, (_c, s) in vocab.items()}
    expect_100 = len(ug._py_viterbi("catsmat", scores)) + len(
        ug._py_viterbi("thecat", scores)
    )
    assert rows[100]["n_tokens"] == expect_100
    assert rows[101]["n_tokens"] >= 3


def test_drifted_word_segments_with_learned_pieces(spark):
    """A word the corpus never saw still encodes (single-char
    fallback + any matching learned pieces) — the serving property
    the coverage guarantee exists for."""
    vocab, _ = ug.py_learn_unigram(TEXTS)
    scores = {p: s for p, (_c, s) in vocab.items()}
    ps = ug._py_viterbi("catsmat", scores)
    assert "".join(ps) == "catsmat"


def test_distributed_loop_matches_driver_dispatch(spark, monkeypatch):
    # r13: learn_unigram dispatches to the in-process EM loop when the
    # vocabulary fits DRIVER_UNIGRAM_MAX_WORDS.  Force the DISTRIBUTED
    # path (bound 0) and assert vocab AND final segmentation are
    # identical to the driver path — the dispatch must be invisible.
    from retail_etl_pipeline_airflow_s3_athena_spark.operators import unigram

    texts = [
        "abab abab banana",
        "ban ban banana abab",
        "nana banana ban",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    vocab_drv, words_drv = unigram.learn_unigram(docs)
    v_drv = {
        r["piece"]: (r["freq"], r["cost_e20"]) for r in vocab_drv.collect()
    }
    s_drv = {r["tok"]: r["pieces"] for r in words_drv.collect()}
    release_checkpoint(vocab_drv)
    release_checkpoint(words_drv)
    monkeypatch.setattr(unigram, "DRIVER_UNIGRAM_MAX_WORDS", 0)
    vocab_dist, words_dist = unigram.learn_unigram(docs)
    v_dist = {
        r["piece"]: (r["freq"], r["cost_e20"]) for r in vocab_dist.collect()
    }
    s_dist = {r["tok"]: r["pieces"] for r in words_dist.collect()}
    release_checkpoint(vocab_dist)
    release_checkpoint(words_dist)
    assert v_dist == v_drv
    assert s_dist == s_drv
