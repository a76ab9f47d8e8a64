"""WordPiece: greedy longest-match encoding, round trip over the frozen
demo vocabulary, determinism, and the text-grain encoder against a
driver-side model."""

from conftest import SF0001
from feasibility_etl_spark.operators.wordpiece import (
    DEMO_WP_VOCAB,
    UNK,
    encode_word_greedy,
    wordpiece_encode_text,
)
from feasibility_etl_spark.sources.catalog import load
from golden import encode_text_model


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


def test_encode_roundtrip_and_unk_free_on_training_corpus(spark):
    docs = load(spark, SF0001, "documents")
    out = wordpiece_encode_text(docs, DEMO_WP_VOCAB).collect()
    assert len(out) == docs.count()
    joined = {r.doc_id: r.wp_text.split() for r in out}
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
        assert r.n_wp_tokens == len(joined[r.doc_id])


def test_encode_partitioning_invariant(spark):
    docs = load(spark, SF0001, "documents")
    a = sorted(
        (r.doc_id, r.wp_text)
        for r in wordpiece_encode_text(docs, DEMO_WP_VOCAB).collect()
    )
    b = sorted(
        (r.doc_id, r.wp_text)
        for r in wordpiece_encode_text(
            docs.repartition(7, "source"), DEMO_WP_VOCAB, parallelism=4
        ).collect()
    )
    assert a == b


def test_encode_text_matches_array_join_of_encode(spark):
    """wordpiece_encode_text ≡ the space-joined per-word greedy encode of
    Spark's own tokens — the equivalence the text-grain serving path
    (q_wp_encode) rests on. Same whitespace-surface battery as the BPE
    test: tabs, vertical tab / form feed, CRLF, NBSP (NOT a separator —
    Java \\s is ASCII-only), all-whitespace, empty, null, unicode
    lowering (JVM-side in both)."""
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
    direct = {
        r.doc_id: (r.wp_text, r.n_wp_tokens)
        for r in wordpiece_encode_text(docs, DEMO_WP_VOCAB).collect()
    }
    vocab = set(DEMO_WP_VOCAB)
    assert direct == encode_text_model(docs, lambda w: encode_word_greedy(w, vocab))
