"""WordPiece: likelihood-scored training (hand-derived example proving
it is NOT frequency-BPE), greedy longest-match encoding, demo-vocab
provenance, determinism."""

import pytest
from pyspark.sql import functions as F

from conftest import SF0001
from feasibility_etl_spark.operators.wordpiece import (
    DEMO_WP_VOCAB,
    UNK,
    encode_word_greedy,
    vocab_from_word_counts,
    wordpiece_encode,
    wordpiece_train,
    _wp_syms,
)
from feasibility_etl_spark.sources.catalog import load


def test_training_hand_derived_likelihood_not_frequency():
    # counts: "aa" x10, "ab" x5, "ba" x3
    # pair scores n(xy)/(n(x)n(y)): (a,##a)=10/(15*13), (a,##b)=5/(15*5),
    # (b,##a)=3/(3*13) -> best is (b,##a) DESPITE the lowest count (pure
    # frequency-BPE would merge (a,##a) first). Round 2: (a,##a) and
    # (a,##b) tie on score 1/15 -> higher count wins -> "aa".
    counts = {_wp_syms("aa"): 10, _wp_syms("ab"): 5, _wp_syms("ba"): 3}
    vocab = vocab_from_word_counts(counts, num_merges=2)
    assert vocab == ["##a", "##b", "a", "b", "ba", "aa"]


def test_training_merge_symbol_naming():
    # continuation status of the left symbol survives; ## of right dissolves
    counts = {_wp_syms("abc"): 7}
    vocab = vocab_from_word_counts(counts, num_merges=2)
    # round 1: (##b,##c) and (a,##b) tie at 7/(7*7) and on count ->
    # lexicographic: ("##b","##c") < ("a","##b") -> merge "##bc"
    # round 2: (a, ##bc) -> "abc" (left symbol's status survives)
    assert vocab == ["##b", "##c", "a", "##bc", "abc"]


def test_greedy_longest_match():
    vocab = {"un", "##able", "##a", "##b", "##l", "##e", "u", "##n", "a"}
    assert encode_word_greedy("unable", vocab) == ("un", "##able")
    # prefers the longest first piece even when shorter pieces chain
    vocab2 = {"una", "##ble", "un", "##able"}
    assert encode_word_greedy("unable", vocab2) == ("una", "##ble")


def test_greedy_unk_on_unseen_char():
    vocab = {"a", "##b"}
    assert encode_word_greedy("axb", vocab) == (UNK,)
    assert encode_word_greedy("ab", vocab) == ("a", "##b")


def test_demo_vocab_provenance(spark):
    docs = load(spark, SF0001, "documents")
    assert wordpiece_train(docs, num_merges=24) == DEMO_WP_VOCAB


def test_encode_roundtrip_and_unk_free_on_training_corpus(spark):
    docs = load(spark, SF0001, "documents")
    out = wordpiece_encode(docs, DEMO_WP_VOCAB).collect()
    assert len(out) == docs.count()
    joined = {r.doc_id: r.wp_tokens for r in out}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, toks in joined.items():
        words = [w for w in texts[did].strip().lower().split() if w]
        # base alphabet covers the training corpus -> no UNK on it
        assert UNK not in toks
        # concatenation restores the word stream exactly
        rebuilt, cur = [], ""
        for t in toks:
            if t.startswith("##"):
                cur += t[2:]
            else:
                if cur:
                    rebuilt.append(cur)
                cur = t
        if cur:
            rebuilt.append(cur)
        assert rebuilt == words, did
    # token count column is consistent
    for r in out:
        assert r.n_wp_tokens == len(r.wp_tokens)


def test_encode_partitioning_invariant(spark):
    docs = load(spark, SF0001, "documents")
    a = sorted(
        (r.doc_id, tuple(r.wp_tokens))
        for r in wordpiece_encode(docs, DEMO_WP_VOCAB).collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.wp_tokens))
        for r in wordpiece_encode(
            docs.repartition(7, "source"), DEMO_WP_VOCAB, parallelism=4
        ).collect()
    )
    assert a == b


def test_training_repartition_deterministic(spark):
    docs = load(spark, SF0001, "documents")
    assert wordpiece_train(docs.repartition(5), num_merges=8) == wordpiece_train(
        docs.coalesce(1), num_merges=8
    )


def test_encode_text_matches_array_join_of_encode(spark):
    """wordpiece_encode_text ≡ array_join(wordpiece_encode, ' ') — the
    equivalence the r12 text-grain serving path (q_wp_encode) rests on.
    Same whitespace-surface battery as the BPE twin: tabs, vertical tab /
    form feed, CRLF, NBSP (NOT a separator — Java \\s is ASCII-only),
    all-whitespace, empty, null, unicode lowering (JVM-side both paths)."""
    from feasibility_etl_spark.operators.wordpiece import wordpiece_encode_text

    docs = spark.createDataFrame(
        [
            (1, "  The Scan COLUMN  "),
            (2, "tab\tand\x0bvertical\x0cfeeds\r\ncrlf"),
            (3, "nbsp stays one-token"),
            (4, ""),
            (5, "   \t "),
            (6, None),
            (7, "İstanbul STRASSE straße"),
        ],
        "doc_id long, text string",
    )
    via_array = {
        r.doc_id: (r.t, r.n)
        for r in wordpiece_encode(docs, DEMO_WP_VOCAB)
        .select(
            "doc_id",
            F.array_join("wp_tokens", " ").alias("t"),
            F.col("n_wp_tokens").alias("n"),
        )
        .collect()
    }
    direct = {
        r.doc_id: (r.wp_text, r.n_wp_tokens)
        for r in wordpiece_encode_text(docs, DEMO_WP_VOCAB).collect()
    }
    assert direct == via_array
