"""Corpus ops: split determinism/stability, greedy shard packing, and
benchmark decontamination (planted-overlap removal)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF0001
from feasibility_etl_spark.operators.corpus import (
    decontaminate,
    pack_shards,
    split_corpus,
)
from feasibility_etl_spark.sources.catalog import load

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def test_split_is_stable_under_corpus_growth(spark):
    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    large = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s_small = {r.doc_id: r.split for r in split_corpus(small, WEIGHTS).collect()}
    s_large = {r.doc_id: r.split for r in split_corpus(large, WEIGHTS).collect()}
    # growing the corpus never reassigns an existing doc
    assert all(s_large[k] == v for k, v in s_small.items())


def test_split_fractions_roughly_match_weights(spark):
    counts = dict(
        split_corpus(spark.range(0, 20_000).withColumnRenamed("id", "doc_id"), WEIGHTS)
        .groupBy("split")
        .count()
        .collect()
    )
    assert counts["train"] / 20_000 == pytest.approx(0.8, abs=0.02)
    assert counts["val"] / 20_000 == pytest.approx(0.1, abs=0.02)
    assert counts["test"] / 20_000 == pytest.approx(0.1, abs=0.02)


def test_split_rejects_bad_weights(spark):
    with pytest.raises(ValueError):
        split_corpus(spark.range(3).withColumnRenamed("id", "doc_id"), {"a": 0.5})


def test_pack_shards_greedy_budget(spark):
    # one bucket → pure greedy order-by-id packing, check against hand model
    rows = [(i, 400) for i in range(10)]  # 400 tokens each, budget 1000
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r.doc_id: r.shard_id
        for r in pack_shards(df, "n_tok", 1000, num_buckets=1).collect()
    }
    # doc i starts at cumulative 400*i; shard = floor(400*i / 1000)
    want = {i: (400 * i) // 1000 for i in range(10)}
    assert got == want


def test_pack_shards_bucket_isolation(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.lit(50).alias("n_tok")
    )
    out = pack_shards(df, "n_tok", 500, num_buckets=4)
    # shard id encodes its bucket; every doc routed by doc_id % 4
    assert out.where(F.shiftright("shard_id", 40) != F.col("doc_id") % 4).count() == 0


def test_decontaminate_removes_overlap_and_eval(spark):
    phrase = "one two three four five six seven eight"  # exactly 8 words
    rows = [
        (1, f"training doc with the {phrase} inside a longer body of text"),
        (2, "perfectly clean training document about unrelated matters entirely"),
        (3, f"the benchmark asks about {phrase} verbatim"),  # eval doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = decontaminate(docs, docs.where(F.col("doc_id") == 3))
    assert [r.doc_id for r in out.collect()] == [2]


def test_mix_sources_hits_budgets_with_one_doc_overshoot(spark):
    from feasibility_etl_spark.operators.corpus import mix_sources

    rows = [(i, "a" if i % 2 == 0 else "b", 100) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    out = mix_sources(df, {"a": 0.75, "b": 0.25}, total_tokens=2000, token_col="n_tok")
    per = {r.source: r.tok for r in out.groupBy("source").agg(F.sum("n_tok").alias("tok")).collect()}
    # budgets: a=1500, b=500; docs are 100 tokens -> exact fit, no overshoot
    assert per == {"a": 1500, "b": 500}
    # uneven doc size: budget boundary doc included (overshoot < one doc)
    df2 = spark.createDataFrame([(i, "a", 70) for i in range(10)], "doc_id long, source string, n_tok long")
    out2 = mix_sources(df2, {"a": 1.0}, total_tokens=100, token_col="n_tok")
    assert out2.agg(F.sum("n_tok")).first()[0] == 140  # 70 < 100 -> next doc crosses


def test_mix_sources_undersized_source_and_unlisted_dropped(spark):
    from feasibility_etl_spark.operators.corpus import mix_sources

    df = spark.createDataFrame(
        [(1, "tiny", 10), (2, "tiny", 10), (3, "other", 10)],
        "doc_id long, source string, n_tok long",
    )
    out = mix_sources(df, {"tiny": 1.0}, total_tokens=10_000, token_col="n_tok")
    got = sorted((r.doc_id, r.source) for r in out.collect())
    # tiny contributes all it has; 'other' has weight 0 -> dropped
    assert got == [(1, "tiny"), (2, "tiny")]


def test_mix_sources_shuffle_is_deterministic_and_unbiased_vs_prefix(spark):
    from feasibility_etl_spark.operators.corpus import mix_sources

    df = spark.createDataFrame(
        [(i, "a", 10) for i in range(1000)], "doc_id long, source string, n_tok long"
    )
    kept1 = sorted(r.doc_id for r in mix_sources(df, {"a": 1.0}, 1000, "n_tok").collect())
    kept2 = sorted(r.doc_id for r in mix_sources(df, {"a": 1.0}, 1000, "n_tok").collect())
    assert kept1 == kept2 and len(kept1) == 100
    # md5 order is not the id prefix (temporal-bias guard)...
    assert kept1 != list(range(100))
    # ...but shuffle=False IS the deterministic prefix snapshot
    prefix = sorted(
        r.doc_id
        for r in mix_sources(df, {"a": 1.0}, 1000, "n_tok", shuffle=False).collect()
    )
    assert prefix == list(range(100))


def test_stratified_sample_exact_per_stratum_counts(spark):
    from feasibility_etl_spark.operators.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i < 20 else "b") for i in range(25)],
        "doc_id long, source string",
    )
    out = stratified_sample(df, "source", 0.2)
    by = {}
    for r in out.collect():
        by.setdefault(r.source, []).append(r.doc_id)
    assert len(by["a"]) == 4  # ceil(0.2 * 20)
    assert len(by["b"]) == 1  # ceil(0.2 * 5)
    # deterministic: same subset on re-run, and not the id prefix
    again = {(r.source, r.doc_id) for r in stratified_sample(df, "source", 0.2).collect()}
    assert again == {(s, d) for s, ds in by.items() for d in ds}


def test_stratified_sample_per_stratum_dict(spark):
    from feasibility_etl_spark.operators.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(40)],
        "doc_id long, source string",
    )
    out = stratified_sample(df, "source", {"a": 0.5})
    rows = out.collect()
    assert all(r.source == "a" for r in rows)  # unlisted stratum dropped
    assert len(rows) == 10  # ceil(0.5 * 20)


def test_epoch_order_is_exact_global_rank(spark):
    from pyspark.sql import Window as W

    from feasibility_etl_spark.operators.corpus import epoch_order

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    out = epoch_order(df, seed=7)
    got = {r.doc_id: r.epoch_pos for r in out.collect()}
    # exact permutation of 0..n-1
    assert sorted(got.values()) == list(range(500))
    # equals the single-partition reference formulation
    ref_df = df.withColumn(
        "epoch_pos",
        F.row_number().over(
            W.orderBy(F.md5(F.concat(F.lit("7:"), F.col("doc_id").cast("string"))),
                      "doc_id")
        ) - 1,
    )
    ref = {r.doc_id: r.epoch_pos for r in ref_df.collect()}
    assert got == ref
    # seeded: a different seed is a different permutation
    other = {r.doc_id: r.epoch_pos for r in epoch_order(df, seed=8).collect()}
    assert other != got and sorted(other.values()) == list(range(500))


# ------------------------------------------------------- novelty signals

def test_novelty_hand_built(spark):
    from feasibility_etl_spark.operators.corpus import novelty_signals

    # 3-gram regime: doc 1 and 2 share "a b c d" (grams "a b c", "b c d");
    # doc 3 is fully original; doc 4 duplicates doc 1 verbatim
    rows = [
        (1, "a b c d x y"),
        (2, "a b c d p q"),
        (3, "completely different words here now"),
        (4, "a b c d x y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in novelty_signals(df, ngram=3).collect()}
    # doc1: grams {abc,bcd,cdx,dxy} -> abc,bcd shared with 2; all 4 shared with 4
    assert got[1].n_grams == 4 and got[1].n_shared == 4 and got[1].novelty == 0.0
    assert got[4].n_grams == 4 and got[4].n_shared == 4
    # doc2: abc,bcd shared; cdp,dpq original
    assert got[2].n_grams == 4 and got[2].n_shared == 2
    assert got[2].novelty == pytest.approx(0.5)
    # doc3: 3 grams, none shared
    assert got[3].n_grams == 3 and got[3].n_shared == 0 and got[3].novelty == 1.0


def test_novelty_short_doc_whole_text_shingle(spark):
    from feasibility_etl_spark.operators.corpus import novelty_signals

    df = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "other")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in novelty_signals(df, ngram=8).collect()}
    assert got[1].n_grams == 1 and got[1].n_shared == 1  # whole-text shingle
    assert got[3].n_grams == 1 and got[3].n_shared == 0


def test_novelty_partitioning_invariant(spark):
    from feasibility_etl_spark.operators.corpus import novelty_signals

    docs = load(spark, SF0001, "documents")
    a = sorted(map(tuple, novelty_signals(docs).collect()))
    b = sorted(map(tuple, novelty_signals(docs.repartition(7, "source")).collect()))
    assert a == b


def test_sample_k_exact_counts_and_nesting(spark):
    from feasibility_etl_spark.operators.corpus import sample_k, stratified_sample

    docs = load(spark, SF0001, "documents")
    out = sample_k(docs, "source", 7)
    counts = {r.source: r.n for r in out.groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    sizes = {r.source: r.n for r in docs.groupBy("source").count()
             .withColumnRenamed("count", "n").collect()}
    assert counts == {s: min(7, n) for s, n in sizes.items()}
    # nested-subset property: the k-sample is a prefix of the rate sample
    rate = {r.doc_id for r in stratified_sample(docs, "source", 0.5).collect()}
    small = {r.doc_id for r in sample_k(docs, "source", 3).collect()}
    big = {r.doc_id for r in sample_k(docs, "source", 10).collect()}
    assert small <= big
    # per-stratum dict budgets; unlisted strata dropped
    srcs = sorted(sizes)
    budget = {srcs[0]: 2, srcs[1]: 5}
    capped = sample_k(docs, "source", budget)
    got = {r.source: r.n for r in capped.groupBy("source").count()
           .withColumnRenamed("count", "n").collect()}
    assert got == {srcs[0]: 2, srcs[1]: 5}


def test_sample_k_deterministic_across_partitioning(spark):
    from feasibility_etl_spark.operators.corpus import sample_k

    docs = load(spark, SF0001, "documents")
    a = sorted(r.doc_id for r in sample_k(docs, "lang", 5).collect())
    b = sorted(r.doc_id for r in sample_k(docs.repartition(9), "lang", 5).collect())
    assert a == b


def test_contamination_scores_consistent_with_binary_decontam(spark):
    from feasibility_etl_spark.operators.corpus import (
        contamination_scores,
        decontaminate,
    )

    docs = load(spark, SF0001, "documents")
    eval_docs = docs.where(F.col("doc_id") % 11 == 0)
    scores = {r.doc_id: r for r in contamination_scores(docs, eval_docs).collect()}
    kept = {r.doc_id for r in decontaminate(docs, eval_docs).collect()}
    eval_ids = {r.doc_id for r in eval_docs.collect()}
    for did, r in scores.items():
        assert 0.0 <= r.contamination <= 1.0
        assert r.n_contaminated <= r.n_grams
        if did not in eval_ids:
            # binary decontam == (contamination > 0) outside the eval set
            assert (did in kept) == (r.contamination == 0.0), did
    # eval docs are fully contaminated by construction
    for did in eval_ids:
        assert scores[did].contamination == 1.0
