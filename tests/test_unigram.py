"""Unigram-LM tokenizer: EM sanity, Viterbi reference behavior,
coverage fallback, determinism, distributed == driver parity."""

import math

import pytest
from pyspark.sql import functions as F

from conftest import SF0001
from feasibility_etl_spark.operators.unigram import (
    UNSEEN_LOGP,
    unigram_encode,
    unigram_train,
    viterbi_word,
    vocab_from_counts,
)
from feasibility_etl_spark.sources.catalog import load


def test_viterbi_prefers_high_prob_long_piece():
    logp = {"ab": math.log(0.5), "a": math.log(0.25), "b": math.log(0.25)}
    # "ab" as one piece: log 0.5 > log 0.25 + log 0.25
    assert viterbi_word("ab", logp) == ("ab",)
    assert viterbi_word("aba", logp) == ("ab", "a")


def test_viterbi_tie_prefers_longer_piece():
    logp = {"ab": math.log(0.25), "a": math.log(0.5), "b": math.log(0.5)}
    # 0.25 == 0.5 * 0.5 exactly in log space? log(0.25) vs log(.5)+log(.5):
    # both are 2*log(0.5) -> exact tie -> longer piece wins
    assert viterbi_word("ab", logp) == ("ab",)


def test_viterbi_unseen_char_fallback():
    logp = {"a": math.log(0.5), "b": math.log(0.5)}
    assert viterbi_word("axb", logp) == ("a", "x", "b")
    # and the fallback uses the floor, not KeyError
    assert viterbi_word("x", logp) == ("x",)


def test_em_training_finds_repeated_substring():
    # corpus dominated by "banana": EM should give "an"-family pieces
    # real mass and segment banana into few pieces
    counts = {"banana": 50, "band": 10, "ana": 20}
    vocab = vocab_from_counts(counts, vocab_size=12, seed_size=20,
                              max_piece_len=4)
    pieces = dict(vocab)
    # probabilities normalize
    assert abs(sum(math.exp(p) for p in pieces.values()) - 1.0) < 1e-6
    seg = viterbi_word("banana", pieces, max_piece_len=4)
    assert len(seg) <= 3  # far better than 6 single chars
    assert "".join(seg) == "banana"


def test_training_deterministic_and_bounded(spark):
    docs = load(spark, SF0001, "documents")
    v1 = unigram_train(docs, vocab_size=80, seed_size=150, max_words=500)
    v2 = unigram_train(
        docs.repartition(5), vocab_size=80, seed_size=150, max_words=500
    )
    assert v1 == v2
    assert len(v1) <= 150 + 100  # bounded by seed + alphabet


def test_encode_matches_driver_reference_and_roundtrips(spark):
    docs = load(spark, SF0001, "documents")
    pieces = unigram_train(docs, vocab_size=80, seed_size=150, max_words=500)
    out = {r.doc_id: r for r in unigram_encode(docs, pieces).collect()}
    lp = dict(pieces)
    for r in docs.collect():
        words = [w for w in r.text.strip().lower().split() if w]
        expect = []
        for w in words:
            expect.extend(viterbi_word(w, lp))
        assert list(out[r.doc_id].ug_tokens) == expect
        assert out[r.doc_id].n_ug_tokens == len(expect)
        assert "".join(out[r.doc_id].ug_tokens) == "".join(words)


def test_encode_partitioning_invariant(spark):
    docs = load(spark, SF0001, "documents")
    pieces = unigram_train(docs, vocab_size=60, seed_size=100, max_words=300)
    a = sorted(
        (r.doc_id, tuple(r.ug_tokens))
        for r in unigram_encode(docs, pieces).collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.ug_tokens))
        for r in unigram_encode(
            docs.repartition(7, "source"), pieces, parallelism=4
        ).collect()
    )
    assert a == b


def test_demo_pieces_provenance_and_dyadic(spark):
    # DEMO_UG_PIECES = unigram_train(documents @ sf0.001, vocab_size=120,
    # seed_size=200, max_words=2000) with logps rounded to 2^-20 — the
    # rounding makes every Viterbi path cost an exact double, which the
    # DuckDB oracle's windowed-frontier DP relies on
    from feasibility_etl_spark.operators.unigram import (
        DEMO_UG_PIECES,
        unigram_train,
    )

    docs = load(spark, SF0001, "documents").where(
        F.trim("text") != ""
    )
    trained = unigram_train(docs, vocab_size=120, seed_size=200, max_words=2000)
    Q = 1 << 20
    assert [(p, round(lp * Q) / Q) for p, lp in trained] == DEMO_UG_PIECES
    assert all(lp * Q == round(lp * Q) for _, lp in DEMO_UG_PIECES)
