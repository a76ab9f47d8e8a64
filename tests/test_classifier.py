"""Hashed-n-gram linear classifier (operators/classifier.py) — closed-form
log-odds training + exact BIGINT scoring, checked against a pure-Python
replay on a hand-built fixture and an en-vs-rest sanity run on sf0.001."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from feasibility_etl_spark.operators.classifier import (
    ALPHA,
    classifier_score,
    train_log_odds,
)

from conftest import SF0001
from feasibility_etl_spark.sources.catalog import load

B = 8  # tiny bucket space so collisions are exercised


def _bucket(feature: str, num_buckets: int = B) -> int:
    return int(hashlib.md5(feature.encode()).hexdigest()[:8], 16) % num_buckets


def _feats(text: str) -> list[str]:
    ws = text.split()
    return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]


def _py_model(rows: list[tuple[int, str, int]]):
    """(weights dict bucket->w_e9, bias_e9, w_default_e9) replayed in
    Python with the operator's exact formulas."""
    pos_c: dict[int, int] = {}
    neg_c: dict[int, int] = {}
    for _id, text, lab in rows:
        for f in _feats(text):
            b = _bucket(f)
            (pos_c if lab else neg_c)[b] = (pos_c if lab else neg_c).get(b, 0) + 1
    POS, NEG = sum(pos_c.values()), sum(neg_c.values())
    aB = ALPHA * B

    def w(p: int, n: int) -> int:
        return round(
            (math.log((p + ALPHA) / (POS + aB)) - math.log((n + ALPHA) / (NEG + aB)))
            * 1e9
        )

    weights = {
        b: w(pos_c.get(b, 0), neg_c.get(b, 0))
        for b in set(pos_c) | set(neg_c)
    }
    n_pos = sum(1 for r in rows if r[2])
    n_neg = len(rows) - n_pos
    bias = round(math.log((n_pos + ALPHA) / (n_neg + ALPHA)) * 1e9)
    return weights, bias, w(0, 0)


FIXTURE = [
    (1, "good clean prose with words", 1),
    (2, "good words again and again", 1),
    (3, "spam spam spam buy now", 0),
    (4, "buy now spam offer", 0),
    (5, "clean prose wins", 1),
]


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(FIXTURE, "doc_id long, text string, label int")


def test_train_matches_python_replay(spark, fixture_df):
    model = train_log_odds(fixture_df, "label", num_buckets=B)
    weights, bias, w_default = _py_model(FIXTURE)
    got = {r["bucket"]: r["w_e9"] for r in model.weights.collect()}
    assert set(got) == set(weights)
    for b in weights:
        # Python round() is banker's, Spark HALF_UP — ±1 nano slack
        assert abs(got[b] - weights[b]) <= 1, (b, got[b], weights[b])
    c = model.consts.collect()[0]
    assert abs(c["bias_e9"] - bias) <= 1
    assert abs(c["w_default_e9"] - w_default) <= 1
    assert c["num_buckets"] == B and c["word_ngrams"] == 2


def test_score_exact_sum_and_pred(spark, fixture_df):
    model = train_log_odds(fixture_df, "label", num_buckets=B)
    scored = {
        r["doc_id"]: r
        for r in classifier_score(fixture_df, model, num_buckets=B).collect()
    }
    weights, bias, w_default = _py_model(FIXTURE)
    for _id, text, lab in FIXTURE:
        feats = _feats(text)
        want = bias + sum(weights.get(_bucket(f), w_default) for f in feats)
        got = scored[_id]
        assert got["n_feat"] == len(feats)
        assert abs(got["logit_e9"] - want) <= len(feats) + 1
        assert got["pred"] == (got["logit_e9"] >= 0)
        assert got["logit"] == pytest.approx(got["logit_e9"] / 1e9)
    # training docs should be separated by their own model
    assert all(scored[i]["pred"] == bool(lab) for i, _, lab in FIXTURE)


def test_empty_doc_scores_bias_only(spark, fixture_df):
    model = train_log_odds(fixture_df, "label", num_buckets=B)
    docs = spark.createDataFrame(
        [(10, ""), (11, "   "), (12, "zzz-unseen-token")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in classifier_score(docs, model, num_buckets=B).collect()}
    bias = model.consts.collect()[0]["bias_e9"]
    w_default = model.consts.collect()[0]["w_default_e9"]
    for did in (10, 11):
        assert rows[did]["n_feat"] == 0
        assert rows[did]["logit_e9"] == bias
    # one unseen unigram: default weight applies unless its bucket was
    # trained (collision) — either way the sum is bias + weight(bucket)
    weights = {r["bucket"]: r["w_e9"] for r in model.weights.collect()}
    wb = weights.get(_bucket("zzz-unseen-token"), w_default)
    assert rows[12]["n_feat"] == 1
    assert rows[12]["logit_e9"] == bias + wb


def test_multiplicity_counts(spark, fixture_df):
    model = train_log_odds(fixture_df, "label", num_buckets=B)
    docs = spark.createDataFrame(
        [(1, "spam"), (2, "spam spam spam")], "doc_id long, text string"
    )
    r = {x["doc_id"]: x for x in classifier_score(docs, model, num_buckets=B).collect()}
    assert r[1]["n_feat"] == 1 and r[2]["n_feat"] == 5  # 3 uni + 2 bi
    bias = model.consts.collect()[0]["bias_e9"]
    # the single-token doc's weight, tripled, plus the "spam spam" bigram
    # twice must equal doc 2's logit
    weights = {x["bucket"]: x["w_e9"] for x in model.weights.collect()}
    w_uni = weights[_bucket("spam")]
    w_bi = weights[_bucket("spam spam")]
    assert r[1]["logit_e9"] == bias + w_uni
    assert r[2]["logit_e9"] == bias + 3 * w_uni + 2 * w_bi


def test_learns_lexical_signal_sf0001(spark):
    """Train on the doc_id%3==0 slice against a LEXICAL label ('spark'
    occurs ≥2 times — a 247/253 split on this corpus) and eval held-out:
    the model must rediscover the signal through its hashed feature
    space, and the multinomial sum must exploit COUNTS, not presence.
    (The corpus's ``lang`` column is metadata over a shared vocabulary —
    deliberately NOT separable — so the label is text-derived.)"""
    docs = load(spark, SF0001, "documents").select(
        "doc_id",
        "text",
        (
            F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x == "spark"))
            >= 2
        )
        .cast("int")
        .alias("label"),
    )
    train = docs.where("doc_id % 3 = 0")
    model = train_log_odds(train, "label")
    hold = docs.where("doc_id % 3 <> 0")
    scored = classifier_score(hold, model).join(hold.select("doc_id", "label"), "doc_id")
    rows = scored.select("logit", "label").collect()
    pos = sorted(r["logit"] for r in rows if r["label"] == 1)
    neg = sorted(r["logit"] for r in rows if r["label"] == 0)
    assert len(pos) > 20 and len(neg) > 20
    # rank AUC: P(random positive outscores random negative). The gate
    # contract is a SCORE feeding a quantile threshold (the KLL-gate
    # pattern), so ranking quality — not accuracy at logit=0, which
    # absorbs a length-correlated drift — is what the pipeline uses.
    import bisect

    wins = sum(bisect.bisect_left(neg, p) for p in pos)
    ties = sum(
        bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p) for p in pos
    )
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert auc >= 0.8, auc


def test_plan_shape_broadcast_no_python(spark, fixture_df):
    model = train_log_odds(fixture_df, "label", num_buckets=B)
    plan = (
        classifier_score(fixture_df, model, num_buckets=B)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------- router

from collections import Counter

from feasibility_etl_spark.operators.classifier import route_score, train_router

ROUTE_FIXTURE = [
    (1, "le chat noir dort", "fr"),
    (2, "le chien noir court", "fr"),
    (3, "the black cat sleeps", "en"),
    (4, "the black dog runs", "en"),
    (5, "der schwarze hund rennt", "de"),
    (6, "der schwarze kater schlaeft", "de"),
    (7, "mystery words unlabeled", None),
]


def _py_router(rows, num_buckets=B):
    cnt: dict[tuple[int, str], int] = {}
    for _id, text, c in rows:
        if c is None:
            continue
        for f in _feats(text):
            b = _bucket(f, num_buckets)
            cnt[(b, c)] = cnt.get((b, c), 0) + 1
    classes = sorted({c for _, _, c in rows if c is not None})
    btot: dict[int, int] = {}
    ctot = {c: 0 for c in classes}
    for (b, c), v in cnt.items():
        btot[b] = btot.get(b, 0) + v
        ctot[c] += v
    al = sum(cnt.values())
    n_c = Counter(c for _, _, c in rows if c is not None)
    n_all = sum(n_c.values())
    aB = ALPHA * num_buckets
    dense = {
        (b, c): round(
            (
                math.log((cnt.get((b, c), 0) + ALPHA) / (ctot[c] + aB))
                - math.log(
                    (btot[b] - cnt.get((b, c), 0) + ALPHA) / (al - ctot[c] + aB)
                )
            )
            * 1e9
        )
        for b in btot
        for c in classes
    }
    bias = {
        c: round(math.log((n_c[c] + ALPHA) / (n_all - n_c[c] + ALPHA)) * 1e9)
        for c in classes
    }
    wdef = {
        c: round(
            (math.log(ALPHA / (ctot[c] + aB)) - math.log(ALPHA / (al - ctot[c] + aB)))
            * 1e9
        )
        for c in classes
    }
    return dense, bias, wdef, btot, classes


def _py_route(text, dense, bias, wdef, btot, classes, num_buckets=B):
    logits = {}
    for c in classes:
        s = bias[c]
        for f in _feats(text):
            b = _bucket(f, num_buckets)
            s += dense[(b, c)] if b in btot else wdef[c]
        logits[c] = s
    order = sorted(classes, key=lambda c: (-logits[c], c))
    win = order[0]
    margin = logits[win] - logits[order[1]] if len(order) > 1 else None
    return win, logits[win], margin


@pytest.fixture(scope="module")
def route_df(spark):
    return spark.createDataFrame(
        ROUTE_FIXTURE, "doc_id long, text string, lang string"
    )


def test_router_matches_python_replay(spark, route_df):
    router = train_router(route_df, "lang", num_buckets=B)
    dense, bias, wdef, btot, classes = _py_router(ROUTE_FIXTURE)
    got_dense = {
        (r["bucket"], r["cls"]): r["w_e9"] for r in router.dense.collect()
    }
    assert set(got_dense) == set(dense)
    for k in dense:
        assert abs(got_dense[k] - dense[k]) <= 1, (k, got_dense[k], dense[k])
    got_consts = {r["cls"]: r for r in router.consts.collect()}
    assert sorted(got_consts) == classes
    for c in classes:
        assert abs(got_consts[c]["bias_e9"] - bias[c]) <= 1
        assert abs(got_consts[c]["w_def_e9"] - wdef[c]) <= 1


def test_router_argmax_and_margin(spark, route_df):
    router = train_router(route_df, "lang", num_buckets=B)
    dense, bias, wdef, btot, classes = _py_router(ROUTE_FIXTURE)
    routed = {r["doc_id"]: r for r in route_score(route_df, router, num_buckets=B).collect()}
    slack = 1 + max(len(_feats(t)) for _, t, _ in ROUTE_FIXTURE)
    for _id, text, _c in ROUTE_FIXTURE:
        win, top, margin = _py_route(text, dense, bias, wdef, btot, classes)
        got = routed[_id]
        assert got["cls"] == win, (_id, got["cls"], win)
        assert abs(got["logit_e9"] - top) <= slack
        assert got["n_feat"] == len(_feats(text))
        assert margin is not None and abs(got["margin_e9"] - margin) <= 2 * slack
        assert got["margin_e9"] >= 0
    # labeled training docs route back to their own class (separable vocab)
    for _id, _t, c in ROUTE_FIXTURE:
        if c is not None:
            assert routed[_id]["cls"] == c


def test_router_routes_held_out_vocab(spark, route_df):
    router = train_router(route_df, "lang", num_buckets=4096)
    held = spark.createDataFrame(
        [(20, "le chat court"), (21, "the cat runs"), (22, "der hund schlaeft")],
        "doc_id long, text string",
    )
    routed = {
        r["doc_id"]: r["cls"]
        for r in route_score(held, router, num_buckets=4096).collect()
    }
    assert routed == {20: "fr", 21: "en", 22: "de"}


def test_router_single_class_margin_null(spark):
    df = spark.createDataFrame(
        [(1, "only one class here", "en"), (2, "more of the same", "en")],
        "doc_id long, text string, lang string",
    )
    router = train_router(df, "lang", num_buckets=B)
    rows = route_score(df, router, num_buckets=B).collect()
    assert all(r["cls"] == "en" and r["margin_e9"] is None for r in rows)


def test_router_null_class_excluded_from_training(spark, route_df):
    """Doc 7's NULL class must not become a routable label, and its
    features must not contribute counts."""
    router = train_router(route_df, "lang", num_buckets=4096)
    assert sorted(r["cls"] for r in router.consts.collect()) == ["de", "en", "fr"]
    no_null = [r for r in ROUTE_FIXTURE if r[2] is not None]
    dense, *_ = _py_router(no_null, num_buckets=4096)
    got = {(r["bucket"], r["cls"]): r["w_e9"] for r in router.dense.collect()}
    assert set(got) == set(dense)


# ------------------------------------------------- persisted-frame rehydration


def test_from_frames_restores_nondefault_shape(spark, fixture_df, tmp_path):
    """Round-8 ADVICE fix: a model rehydrated from persisted frames via
    from_frames scores in the TRAINING feature space even when that
    shape is non-default — constructing the tuple directly would leave
    the ints at 4096/2 and silently re-hash."""
    from feasibility_etl_spark.operators.classifier import LinearTextModel

    model = train_log_odds(fixture_df, "label", num_buckets=B, word_ngrams=1)
    wp, cp = str(tmp_path / "w"), str(tmp_path / "c")
    model.weights.write.parquet(wp)
    model.consts.write.parquet(cp)
    loaded = LinearTextModel.from_frames(
        spark.read.parquet(wp), spark.read.parquet(cp)
    )
    assert loaded.num_buckets == B and loaded.word_ngrams == 1
    want = {r["doc_id"]: r["logit_e9"]
            for r in classifier_score(fixture_df, model).collect()}
    got = {r["doc_id"]: r["logit_e9"]
           for r in classifier_score(fixture_df, loaded).collect()}
    assert got == want


def test_router_from_frames_restores_shape(spark, route_df, tmp_path):
    from feasibility_etl_spark.operators.classifier import RouterModel

    router = train_router(route_df, "lang", num_buckets=B, word_ngrams=1)
    dp, cp = str(tmp_path / "d"), str(tmp_path / "c")
    router.dense.write.parquet(dp)
    router.consts.write.parquet(cp)
    loaded = RouterModel.from_frames(
        spark.read.parquet(dp), spark.read.parquet(cp)
    )
    assert loaded.num_buckets == B and loaded.word_ngrams == 1
    want = {r["doc_id"]: (r["cls"], r["logit_e9"])
            for r in route_score(route_df, router).collect()}
    got = {r["doc_id"]: (r["cls"], r["logit_e9"])
           for r in route_score(route_df, loaded).collect()}
    assert got == want


def test_from_frames_rejects_shapeless_consts(spark, fixture_df):
    """A consts frame that predates the shape columns must fail loudly,
    not default to 4096/2."""
    from feasibility_etl_spark.operators.classifier import LinearTextModel

    model = train_log_odds(fixture_df, "label", num_buckets=B)
    legacy = model.consts.select("bias_e9", "w_default_e9")
    with pytest.raises(ValueError, match="num_buckets"):
        LinearTextModel.from_frames(model.weights, legacy)
