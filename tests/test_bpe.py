"""BPE tokenizer: classic-encode vs rank-order-fold equivalence (the
oracle's formulation) on merges from a naive reference trainer, the frozen
demo merges' provenance, and the text-grain encoder against a driver-side
model."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from feasibility_etl_spark.operators.bpe import (
    DEMO_MERGES,
    END,
    SEP,
    bpe_encode_text,
    encode_word,
)
from feasibility_etl_spark.operators.text import tokens
from golden import encode_text_model


def _ref_train(words: list[str], num_merges: int) -> list[tuple[str, str]]:
    """Naive reference trainer: recount pairs from the raw word list each
    round; ties break on the highest count, then the lexicographically
    smallest pair."""
    seqs = [list(w) + [END] for w in words]
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for s in seqs:
            for a, b in zip(s, s[1:]):
                pairs[(a, b)] += 1
        if not pairs:
            break
        top = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == top)
        merges.append(best)
        for s in seqs:
            i = 0
            while i < len(s) - 1:
                if (s[i], s[i + 1]) == best:
                    s[i : i + 2] = [s[i] + s[i + 1]]
                else:
                    i += 1
    return merges


def _fold_encode(word: str, merges: list[tuple[str, str]]) -> tuple[str, ...]:
    """The oracle's formulation: sentinel framing + merges applied in rank
    order, each exhaustively left-to-right, as plain string replaces."""
    s = SEP + (SEP + SEP).join(word) + SEP + SEP + END + SEP
    for left, right in merges:
        s = s.replace(
            f"{SEP}{left}{SEP}{SEP}{right}{SEP}", f"{SEP}{left}{right}{SEP}"
        )
    return tuple(s.strip(SEP).split(SEP + SEP))


def test_classic_encode_equals_rank_order_fold_on_trained_merges():
    merges = _ref_train("lower lowest newest news flow slow slower".split(), 15)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["lower", "newest", "slowest", "flown", "unseen", "x"]:
        assert encode_word(w, ranks) == _fold_encode(w, merges), w


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6), min_size=1, max_size=12
    ),
    st.integers(min_value=0, max_value=10),
)
def test_fold_equivalence_property(words, num_merges):
    """For ANY trained merge list, classic == rank-order fold — the
    invariant the DuckDB oracle's replace-chain rests on."""
    merges = _ref_train(words, num_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in set(words):
        assert encode_word(w, ranks) == _fold_encode(w, merges)


def test_roundtrip_symbols_reconstruct_word():
    ranks = {p: i for i, p in enumerate(DEMO_MERGES)}
    for w in ["scanner", "column", "partition", "z"]:
        syms = encode_word(w, ranks)
        assert "".join(syms) == w + END


def test_encode_dataframe_and_count(spark):
    docs = spark.createDataFrame(
        [(1, "  The Scan COLUMN  "), (2, "scan scan"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_encode_text(docs, DEMO_MERGES).collect()}
    ranks = {p: i for i, p in enumerate(DEMO_MERGES)}
    expect1 = list(encode_word("the", ranks)) + list(
        encode_word("scan", ranks)
    ) + list(encode_word("column", ranks))
    assert out[1].bpe_text == " ".join(expect1)
    assert out[1].n_bpe_tokens == len(expect1)
    assert out[2].bpe_text == " ".join(encode_word("scan", ranks) * 2)
    assert out[3].bpe_text == "" and out[3].n_bpe_tokens == 0


def test_encode_text_matches_array_join_of_encode(spark):
    """bpe_encode_text ≡ the space-joined per-word encode of Spark's own
    tokens, row-for-row — the equivalence the text-grain serving path
    (q_bpe_encode, q_pipe_corpus) rests on. Fixtures stress the
    whitespace surface where the Python-side tokenizer could diverge from
    Spark's split: tabs, vertical tab / form feed, CRLF, NBSP (NOT a
    separator — Java ``\\s`` is ASCII-only), all-whitespace, empty, null,
    and unicode lowering (done JVM-side in both)."""
    docs = spark.createDataFrame(
        [
            (1, "  The Scan COLUMN  "),
            (2, "tab\tand\x0bvertical\x0cfeeds\r\ncrlf"),
            (3, "nbsp\u00a0stays one-token"),
            (4, ""),
            (5, "   \t "),
            (6, None),
            (7, "İstanbul STRASSE straße"),
        ],
        "doc_id long, text string",
    )
    ranks = {p: i for i, p in enumerate(DEMO_MERGES)}
    direct = {
        r.doc_id: (r.bpe_text, r.n_bpe_tokens)
        for r in bpe_encode_text(docs, DEMO_MERGES).collect()
    }
    assert direct == encode_text_model(docs, lambda w: encode_word(w, ranks))
    # NBSP really stayed inside the token (would split under unicode \\s)
    assert "\u00a0" in direct[3][0]


def test_encode_deterministic_across_partitionings(spark):
    docs = spark.createDataFrame(
        [(i, f"partition scan filter join number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    one = sorted(
        (r.doc_id, r.bpe_text)
        for r in bpe_encode_text(docs.coalesce(1), DEMO_MERGES).collect()
    )
    many = sorted(
        (r.doc_id, r.bpe_text)
        for r in bpe_encode_text(docs.repartition(7), DEMO_MERGES).collect()
    )
    assert one == many


def test_demo_merges_match_training_provenance(spark):
    """DEMO_MERGES is frozen BPE training output on the sf0.001 corpus —
    re-train with the reference trainer over the encoder's own word
    stream so the constant can never drift from what it claims to be."""
    from feasibility_etl_spark.sources.catalog import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    words = [
        r.w for r in docs.select(
            F.explode(tokens(F.lower(F.trim("text")))).alias("w")
        ).collect()
    ]
    assert _ref_train(words, 24) == DEMO_MERGES
