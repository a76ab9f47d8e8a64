"""Bloom filter sketches: no false negatives, bounded false positives,
keyed builds, and the decontamination prefilter's
bit-identical-output contract vs the exact operator."""

import pytest
from pyspark.sql import functions as F

from feasibility_etl_spark.operators.corpus import decontaminate
from feasibility_etl_spark.operators.sketches import (
    bloom_build,
    bloom_decontaminate,
    bloom_maybe_contains,
)

from conftest import SF0001
from feasibility_etl_spark.sources.catalog import load

M = 1 << 14  # 16 Kbit keeps tests fast; FPR governed by n/m as usual
K = 5


@pytest.fixture()
def members(spark):
    return spark.range(400).select(F.concat(F.lit("item-"), F.col("id")).alias("v"))


def _contains(spark, bloom_df, probes_df, col="v"):
    flagged = probes_df.crossJoin(F.broadcast(bloom_df)).select(
        col, bloom_maybe_contains(F.col(col), F.col("bloom"), M, K).alias("hit")
    )
    return {r[0]: r.hit for r in flagged.collect()}

def test_no_false_negatives(spark, members):
    bloom = bloom_build(members, "v", m_bits=M, n_hashes=K)
    hits = _contains(spark, bloom, members)
    assert all(hits.values()) and len(hits) == 400


def test_false_positive_rate_bounded(spark, members):
    bloom = bloom_build(members, "v", m_bits=M, n_hashes=K)
    outsiders = spark.range(10_000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("v")
    )
    hits = _contains(spark, bloom, outsiders)
    fpr = sum(hits.values()) / len(hits)
    # theory at n=400, m=16384, k=5: (1 - e^(-kn/m))^k ≈ 2e-5; allow 50x
    assert fpr < 1e-3



def test_keyed_build_and_word_width(spark, members):
    keyed = bloom_build(
        members.withColumn("g", F.crc32("v") % 3), "v", keys=["g"], m_bits=M
    )
    rows = keyed.collect()
    assert len(rows) == 3
    for r in rows:
        assert len(r.bloom) == M // 32
        assert all(0 <= w < (1 << 32) for w in r.bloom)  # low-32-bit words only


def test_empty_input_is_all_zeros(spark, members):
    empty = bloom_build(members.where(F.lit(False)), "v", m_bits=M)
    rows = empty.collect()
    assert len(rows) == 1 and set(rows[0].bloom) == {0}
    # and nothing "matches" the empty filter
    hits = _contains(spark, empty, members.limit(5))
    assert not any(hits.values())


def test_bloom_decontaminate_matches_exact(spark):
    docs = load(spark, SF0001, "documents")
    eval_docs = docs.where(F.col("doc_id") % 11 == 0)
    exact = decontaminate(docs, eval_docs)
    fast = bloom_decontaminate(docs, eval_docs)
    assert sorted(r.doc_id for r in fast.collect()) == sorted(
        r.doc_id for r in exact.collect()
    )


def test_bloom_decontaminate_small_filter_still_exact(spark):
    # undersized filter → many false positives → more suspects take the
    # exact path; the OUTPUT contract must hold regardless of m_bits
    docs = load(spark, SF0001, "documents")
    eval_docs = docs.where(F.col("doc_id") % 11 == 0)
    exact = decontaminate(docs, eval_docs)
    fast = bloom_decontaminate(docs, eval_docs, m_bits=1 << 10)
    assert sorted(r.doc_id for r in fast.collect()) == sorted(
        r.doc_id for r in exact.collect()
    )
