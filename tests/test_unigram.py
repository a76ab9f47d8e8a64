"""Unigram-LM tokenizer: Viterbi reference behavior, coverage fallback,
determinism, distributed == driver parity, the frozen table's dyadic
log-probs."""

import math

from conftest import SF0001
from feasibility_etl_spark.operators.unigram import (
    DEMO_UG_PIECES,
    unigram_encode,
    viterbi_word,
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


def test_encode_matches_driver_reference_and_roundtrips(spark):
    docs = load(spark, SF0001, "documents")
    out = {r.doc_id: r for r in unigram_encode(docs, DEMO_UG_PIECES).collect()}
    lp = dict(DEMO_UG_PIECES)
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
    a = sorted(
        (r.doc_id, tuple(r.ug_tokens))
        for r in unigram_encode(docs, DEMO_UG_PIECES).collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.ug_tokens))
        for r in unigram_encode(
            docs.repartition(7, "source"), DEMO_UG_PIECES, parallelism=4
        ).collect()
    )
    assert a == b


def test_demo_pieces_provenance_and_dyadic():
    # DEMO_UG_PIECES holds EM-trained logps rounded to 2^-20 — the
    # rounding makes every Viterbi path cost an exact double, which the
    # DuckDB oracle's windowed-frontier DP relies on
    Q = 1 << 20
    assert all(lp * Q == round(lp * Q) for _, lp in DEMO_UG_PIECES)
    # a probability table: every logp is a log of a probability
    assert all(lp <= 0.0 for _, lp in DEMO_UG_PIECES)
