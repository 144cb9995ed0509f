"""BPE induction: Spark loop vs the pure-Python twin, merge-fold
semantics, and the driver-loop guard.

Reference scope: no tokenizer surface exists in the reference (its
scripts stop at retail aggregates); this is extension coverage for the
training-data pipeline tier, modeled on the reference's own
exact-expectation test style (single known corpus, assert exact rows).
"""

from __future__ import annotations

import pytest

from retail_etl_pipeline_airflow_s3_athena_spark.operators import bpe
from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
    release_cached,
    release_checkpoint,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )


def test_learn_bpe_matches_python_twin(spark):
    # The canonical Sennrich corpus shape: shared prefixes force a
    # deterministic merge cascade (l+o, lo+w, ...).
    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "low lower newest widest",
    ]
    merges, words = bpe.learn_bpe(_docs(spark, texts), n_merges=10)
    expected, _ = bpe.py_learn_bpe(texts, n_merges=10)
    release_checkpoint(words)
    assert merges == expected
    assert len(merges) > 3  # the corpus actually sustains a cascade


def test_merge_fold_greedy_left_to_right(spark):
    # 'aaaa</w>' under merge (a,a): greedy scan yields [aa, aa, </w>],
    # NOT [a, aa, a, </w>] or a re-merged [aaaa] — and pair counting
    # must have seen 3 overlapping (a,a) occurrences to pick it.
    texts = ["aaaa aaaa"]
    merges, words = bpe.learn_bpe(
        _docs(spark, texts), n_merges=1, min_pair_freq=1
    )
    rows = words.collect()
    release_checkpoint(words)
    assert merges[0][:2] == ("a", "a")
    assert merges[0][2] == 6  # 3 overlapping pairs x freq 2
    assert rows[0]["syms"] == ["aa", "aa", bpe.EOW]


def test_bpe_doc_tokens_accounting(spark):
    texts = ["low low lower", "newest low"]
    out = bpe.bpe_doc_tokens(_docs(spark, texts), n_merges=5)
    got = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"]) for r in out.collect()}
    release_cached(out)
    _, syms = bpe.py_learn_bpe(texts, n_merges=5)
    pieces = {w: len(s) for w, s in syms.items()}
    assert got == {
        0: (3, 2 * pieces["low"] + pieces["lower"]),
        1: (2, pieces["newest"] + pieces["low"]),
    }


def test_bpe_encode_docs_roundtrip(spark):
    """token_ids decode back to the twin's segmentation in order:
    ids are dense 1..V in piece string order, sequences concatenate
    per-word pieces left to right."""
    texts = ["low low lower", "newest low widest"]
    out = bpe.bpe_encode_docs(_docs(spark, texts), n_merges=6)
    rows = {r["doc_id"]: r for r in out.collect()}
    release_cached(out)
    _, syms = bpe.py_learn_bpe(texts, n_merges=6)
    vocab = {p: i + 1 for i, p in enumerate(
        sorted({p for s in syms.values() for p in s})
    )}
    for doc_id, text in enumerate(texts):
        expected = [
            vocab[p] for w in text.split() for p in syms[w]
        ]
        assert rows[doc_id]["token_ids"] == expected
        assert rows[doc_id]["n_tokens"] == len(expected)


def test_min_pair_freq_stops_early(spark):
    # Every word unique, every char pair hapax -> zero merges at the
    # default min_pair_freq=2.
    merges, words = bpe.learn_bpe(_docs(spark, ["ab cd ef"]), n_merges=8)
    release_checkpoint(words)
    assert merges == []


def test_max_merges_guard(spark):
    with pytest.raises(ValueError, match="MAX_MERGES"):
        bpe.learn_bpe(_docs(spark, ["a b"]), n_merges=bpe.MAX_MERGES + 1)


def test_persisted_model_encode_matches_from_scratch(spark, tmp_path):
    """write_bpe_model -> encode_with_model on the training corpus ==
    bpe_encode_docs bit-for-bit (same dictionary, zero merge rounds
    at encode time)."""
    from retail_etl_pipeline_airflow_s3_athena_spark.functions.caching import (
        release_cached,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "model")
    manifest = bpe.write_bpe_model(docs, path)
    assert manifest["merges"] > 0 and manifest["vocab"] > 0
    got = {
        r["doc_id"]: (r["n_tokens"], r["token_ids"])
        for r in bpe.encode_with_model(docs, path).collect()
    }
    ref = bpe.bpe_encode_docs(docs)
    want = {
        r["doc_id"]: (r["n_tokens"], r["token_ids"])
        for r in ref.collect()
    }
    release_cached(ref)
    assert got == want


def test_persisted_model_segments_unseen_words(spark, tmp_path):
    """The apply step on NEW text: unseen words are segmented by
    replaying the ranked merge list (greedy left-to-right), exactly
    the pure-Python mirror's semantics."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "model")
    bpe.write_bpe_model(docs, path)
    merges = [
        (r["left"], r["right"])
        for r in spark.read.schema(bpe.MERGES_SCHEMA)
        .parquet(f"{path}/merges")
        .orderBy("rank")
        .collect()
    ]
    vocab = {
        r["piece"]: r["piece_id"]
        for r in spark.read.schema(bpe.VOCAB_SCHEMA)
        .parquet(f"{path}/vocab")
        .collect()
    }

    def py_apply(word):
        syms = list(word) + [bpe.EOW]
        for l, r in merges:
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            syms = out
        return syms

    # an unseen word built from seen characters
    seen_chars = sorted(
        {c for p in vocab if len(p.rstrip("</w>")) == 1 for c in p}
    )
    word = "".join(c for c in "the" if True)  # 'the' pieces exist
    new_text = "zzqtheqzz the"  # 'zzqtheqzz' is (almost surely) unseen
    new = spark.createDataFrame(
        [(999999, new_text, "srcX")], "doc_id LONG, text STRING, source STRING"
    )
    rows = bpe.encode_with_model(new, path).collect()
    assert len(rows) == 1
    expect_ids = []
    for w in new_text.split():
        for piece in py_apply(w):
            if piece in vocab:
                expect_ids.append((w, piece))
    # compare via piece multiset (ordering within the doc is pinned by
    # (word_pos, piece_pos), mirrored here by iteration order)
    got_n = rows[0]["n_tokens"]
    assert got_n == len(expect_ids)
    inv = {v: k for k, v in vocab.items()}
    got_pieces = [inv[i] for i in rows[0]["token_ids"]]
    assert got_pieces == [p for _, p in expect_ids]


def test_distributed_loop_matches_driver_dispatch(spark, monkeypatch):
    # r13: learn_bpe dispatches to the in-process merge loop when the
    # vocabulary fits DRIVER_BPE_MAX_WORDS.  Force the DISTRIBUTED
    # path (bound 0) and assert merges AND final segmentation are
    # identical to the driver path — the dispatch must be invisible.
    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "low lower newest widest",
    ]
    merges_drv, words_drv = bpe.learn_bpe(_docs(spark, texts), n_merges=8)
    seg_drv = {r["tok"]: r["syms"] for r in words_drv.collect()}
    release_checkpoint(words_drv)
    monkeypatch.setattr(bpe, "DRIVER_BPE_MAX_WORDS", 0)
    merges_dist, words_dist = bpe.learn_bpe(_docs(spark, texts), n_merges=8)
    seg_dist = {r["tok"]: r["syms"] for r in words_dist.collect()}
    release_checkpoint(words_dist)
    assert merges_dist == merges_drv
    assert seg_dist == seg_drv
