"""Stupid-Backoff LM: hand-derived scores, backoff path, determinism."""

import math

import pytest
from pyspark.sql import functions as F

from feasibility_etl_spark.operators.lm import (
    ALPHA,
    score_stupid_backoff,
    train_backoff_lm,
)


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ran"),
            (3, "a dog ran fast"),
        ],
        "doc_id long, text string",
    )


def _model(rows):
    """Reference implementation: plain Python Stupid Backoff."""
    uni, big, n = {}, {}, 0
    for t in rows:
        ws = t.lower().split()
        n += len(ws)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    return uni, big, n


def _score(ws, uni, big, n):
    out = 0
    for a, b in zip(ws, ws[1:]):
        if (a, b) in big:
            r = big[(a, b)] / uni[a]
        else:
            r = ALPHA * max(uni.get(b, 0), 1) / n
        out += round(math.log10(r) * 1e9)
    return out


def test_self_scored_corpus_matches_reference_model(spark, corpus):
    lm = train_backoff_lm(corpus)
    got = {r.doc_id: (r.n_trans, r.logp_e9) for r in score_stupid_backoff(corpus, lm).collect()}
    texts = {r.doc_id: r.text for r in corpus.collect()}
    uni, big, n = _model(texts.values())
    for doc_id, text in texts.items():
        ws = text.lower().split()
        assert got[doc_id] == (len(ws) - 1, _score(ws, uni, big, n))


def test_backoff_path_on_unseen_bigram_and_oov(spark, corpus):
    lm = train_backoff_lm(corpus)
    # "mat dog": both words known, bigram unseen -> alpha*c(dog)/N
    # "dog zebra": zebra OOV -> alpha*max(0,1)/N
    probe = spark.createDataFrame(
        [(10, "mat dog"), (11, "dog zebra")], "doc_id long, text string"
    )
    got = {r.doc_id: r.logp_e9 for r in score_stupid_backoff(probe, lm).collect()}
    uni, big, n = _model([r.text for r in corpus.collect()])
    assert got[10] == round(math.log10(ALPHA * uni["dog"] / n) * 1e9)
    assert got[11] == round(math.log10(ALPHA * 1 / n) * 1e9)


def test_short_docs_have_no_score_rows(spark, corpus):
    lm = train_backoff_lm(corpus)
    probe = spark.createDataFrame(
        [(20, "hello"), (21, ""), (22, "   "), (23, "the cat")],
        "doc_id long, text string",
    )
    ids = {r.doc_id for r in score_stupid_backoff(probe, lm).collect()}
    assert ids == {23}


def test_scores_partitioning_invariant(spark):
    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("w"), (F.col("id") % 7).cast("string"),
            F.lit(" x"), (F.col("id") % 5).cast("string"),
            F.lit(" y"), (F.col("id") % 3).cast("string"),
            F.lit(" w"), (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )
    lm1 = train_backoff_lm(docs)
    lm32 = train_backoff_lm(docs.repartition(32))
    a = sorted(
        (r.doc_id, r.logp_e9, r.n_trans)
        for r in score_stupid_backoff(docs, lm1).collect()
    )
    b = sorted(
        (r.doc_id, r.logp_e9, r.n_trans)
        for r in score_stupid_backoff(docs.repartition(17), lm32).collect()
    )
    assert a == b  # exact BIGINT nano-sums: no float-order drift anywhere


def test_avg_logp_derives_from_exact_sum(spark, corpus):
    lm = train_backoff_lm(corpus)
    for r in score_stupid_backoff(corpus, lm).collect():
        assert r.avg_logp == r.logp_e9 / 1e9 / r.n_trans
        assert r.avg_logp < 0  # log10 of probabilities

