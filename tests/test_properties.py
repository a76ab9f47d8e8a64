"""Property-based tests (hypothesis): engine semantics vs direct Python
models of the reference's JS helpers, over arbitrary inputs.

Each property collects a whole hypothesis-generated batch into ONE DataFrame
and runs ONE Spark job — per-example Spark round trips would be ~100×
slower. Reference models are transliterated from /root/reference/lib/
helpers.js (cited per test) so a mismatch means the Column expression
diverged from the JS semantics, not that two Spark paths agree with each
other.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from feasibility_etl_spark.functions.scalar import delta_pair, hrs_to_sec, pct_diff
from feasibility_etl_spark.operators.dedup import jaccard, shingles
from feasibility_etl_spark.operators.text import tokens
from golden import py_winnow_rows

SETTINGS = settings(
    max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

finite = st.floats(allow_nan=False, allow_infinity=False, width=32)
maybe_num = st.one_of(st.none(), finite)


def js_delta(est, act):
    """helpers.js:309-321 — falsy guard: null/0 on either side → (None, None)."""
    if not est or not act:
        return None, None
    delta = est - act
    denom = (est + act) / 2.0
    if denom == 0:
        pct = math.nan if est == act else math.copysign(math.inf, est - act)
    else:
        pct = (est - act) / denom * 100.0
    return delta, pct


@given(st.lists(st.tuples(maybe_num, maybe_num), min_size=1, max_size=60))
@SETTINGS
def test_delta_pair_matches_js_model(spark, pairs):
    df = spark.createDataFrame(
        [(i, e, a) for i, (e, a) in enumerate(pairs)], "i long, est double, act double"
    )
    d, p = delta_pair(F.col("est"), F.col("act"))
    rows = {r.i: (r.d, r.p) for r in df.select("i", d.alias("d"), p.alias("p")).collect()}
    for i, (e, a) in enumerate(pairs):
        want_d, want_p = js_delta(float(e) if e is not None else None,
                                  float(a) if a is not None else None)
        got_d, got_p = rows[i]
        if want_d is None:
            assert got_d is None and got_p is None, (e, a, got_d, got_p)
        else:
            assert got_d is not None and math.isclose(got_d, want_d, rel_tol=1e-9), (e, a)
            if math.isnan(want_p):
                assert math.isnan(got_p), (e, a, got_p)
            else:
                assert math.isclose(got_p, want_p, rel_tol=1e-9), (e, a, got_p)


@given(st.lists(st.one_of(st.none(), finite), min_size=1, max_size=60))
@SETTINGS
def test_hrs_to_sec_coalesces_null_to_zero(spark, vals):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    rows = {r.i: r.s for r in df.select("i", hrs_to_sec("v").alias("s")).collect()}
    for i, v in enumerate(vals):
        want = (float(v) if v is not None else 0.0) * 3600
        assert math.isclose(rows[i], want, rel_tol=1e-9), (v, rows[i])


text_strategy = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs", "Cc")),
    max_size=120,
)


@given(st.lists(text_strategy, min_size=1, max_size=40))
@SETTINGS
def test_token_count_matches_python_split(spark, texts):
    # tokens() is defined as whitespace splitting with empty-text → [] —
    # i.e. exactly Python str.split() cardinality. Unicode note: Java \s
    # (regex) and Python str.split() agree on ASCII whitespace; exotic
    # Unicode spaces (e.g.  ) differ between the two runtimes, so the
    # property normalizes them away first — the engine contract is ASCII
    # whitespace tokenization.
    texts = ["".join(ch if not ch.isspace() else " " for ch in t) for t in texts]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = {r.i: r.n for r in df.select("i", F.size(tokens("t")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert rows[i] == len(t.split()), (repr(t), rows[i], len(t.split()))


words = st.lists(st.text(alphabet="abcdef", min_size=1, max_size=5), max_size=12)


@given(st.lists(words, min_size=1, max_size=30))
@SETTINGS
def test_shingles_model(spark, docs):
    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    rows = {r.i: r.sh for r in df.select("i", shingles("t", 3).alias("sh")).collect()}
    for i, ws in enumerate(docs):
        if len(ws) < 3:
            want = [" ".join(ws)]  # short doc → whole text, one shingle
        else:
            want = [" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)]
        assert rows[i] == want, (ws, rows[i], want)


@given(st.lists(st.tuples(words, words), min_size=1, max_size=30))
@SETTINGS
def test_jaccard_bounds_symmetry_identity(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i long, a array<string>, b array<string>",
    )
    out = df.select(
        "i",
        jaccard(F.col("a"), F.col("b")).alias("ab"),
        jaccard(F.col("b"), F.col("a")).alias("ba"),
        jaccard(F.col("a"), F.col("a")).alias("aa"),
    )
    for r in out.collect():
        a, b = pairs[r.i]
        assert 0.0 <= r.ab <= 1.0
        assert r.ab == r.ba  # symmetric
        expect_aa = 0.0 if len(a) == 0 else 1.0  # identity (empty → 0 by rule)
        assert r.aa == expect_aa
        want = (
            0.0
            if len(set(a) | set(b)) == 0
            else len(set(a) & set(b)) / len(set(a) | set(b))
        )
        assert math.isclose(r.ab, want, rel_tol=1e-12), (a, b, r.ab, want)


@given(
    st.lists(
        st.tuples(finite.filter(lambda x: x == x), finite),
        min_size=1,
        max_size=60,
    )
)
@SETTINGS
def test_pct_diff_matches_js_model(spark, pairs):
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(pairs)],
        "i long, a double, b double",
    )
    rows = {r.i: r.p for r in df.select("i", pct_diff("a", "b").alias("p")).collect()}
    for i, (a, b) in enumerate(pairs):
        a, b = float(a), float(b)
        if a + b == 0:
            want = math.nan if a == b else math.copysign(math.inf, a - b)
        else:
            want = (a - b) / ((a + b) / 2.0) * 100.0
        got = rows[i]
        if math.isnan(want):
            assert math.isnan(got), (a, b, got)
        else:
            assert math.isclose(got, want, rel_tol=1e-9) or got == want, (a, b, got)


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=80, unique=True)
)
@SETTINGS
def test_corpus_split_partitions_and_is_pure(spark, ids):
    """split_corpus: every doc gets exactly one split; assignment is a pure
    function of the id (running twice, or on any superset, agrees)."""
    from feasibility_etl_spark.operators.corpus import split_corpus

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r.doc_id: r.split for r in split_corpus(df, w).collect()}
    again = {r.doc_id: r.split for r in split_corpus(df, w).collect()}
    assert out == again
    assert set(out) == set(ids)
    assert set(out.values()) <= {"train", "val", "test"}


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.integers(min_value=0, max_value=3_000),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@SETTINGS
def test_pack_shards_matches_greedy_model(spark, rows):
    """pack_shards single-bucket == greedy Python model: doc joins the shard
    its first token lands in (floor of the exclusive running sum / budget)."""
    from feasibility_etl_spark.operators.corpus import pack_shards

    budget = 1000
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r.doc_id: r.shard_id
        for r in pack_shards(df, "n_tok", budget, num_buckets=1).collect()
    }
    cum, want = 0, {}
    for doc_id, n_tok in sorted(rows):
        want[doc_id] = cum // budget
        cum += n_tok
    assert got == want


# --- SCD2: incremental fold == bootstrap over the concatenated log --------

scd2_events = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),          # natural key
        st.sampled_from(["a", "b", "c", None]),       # tracked attr
        st.integers(min_value=0, max_value=30),       # event hour offset
    ),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(scd2_events, st.integers(min_value=1, max_value=24))
def test_scd2_incremental_equals_bootstrap(spark, events, cut):
    """Folding a change log in two time-ordered batches must yield exactly
    the history a single bootstrap over the whole log yields (no late rows
    across the cut: batch 2 contains only events after batch 1's per-key
    maximum — guaranteed by cutting on the global timestamp)."""
    import datetime as dt

    from feasibility_etl_spark.writer.scd2 import scd2_apply

    rows = [
        (k, a, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)) for k, a, h in events
    ]
    schema = "k string, tier string, ts timestamp"
    full = spark.createDataFrame(rows, schema)
    boot = scd2_apply(full, "k", ["tier"])

    b1 = [r for r in rows if r[2].hour < cut and r[2].day == 1]
    b2 = [r for r in rows if not (r[2].hour < cut and r[2].day == 1)]
    if b1 and b2:
        h1 = scd2_apply(spark.createDataFrame(b1, schema), "k", ["tier"])
        inc = scd2_apply(spark.createDataFrame(b2, schema), "k", ["tier"], hist=h1)
    else:
        inc = boot
    key = lambda df: sorted(  # noqa: E731
        (r.version_sk, r.k, str(r.tier), str(r.valid_from), str(r.valid_to), r.is_current)
        for r in df.collect()
    )
    assert key(inc) == key(boot)


# ---------- round-3 operators: BM25 and Gopher repetition vs pure-Python ----


_word = st.text(alphabet="abcd", min_size=1, max_size=3)
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


def _py_bm25(corpus, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in corpus}
    n = len(toks)
    sumdl = sum(len(v) for v in toks.values())
    out = {}
    for i, tk in toks.items():
        s = 0.0
        for q in dict.fromkeys(t.lower() for t in terms):
            tf = tk.count(q)
            df = sum(1 for v in toks.values() if q in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            ratio = 0.0 if sumdl == 0 else len(tk) / (sumdl / n)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * ratio))
        out[i] = s
    return out


@given(st.lists(_doc, min_size=1, max_size=15), st.lists(_word, min_size=1, max_size=3))
@SETTINGS
def test_bm25_matches_python_model(spark, texts, terms):
    from feasibility_etl_spark.operators.search import bm25_scores

    corpus = list(enumerate(texts))
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.bm25 for r in bm25_scores(df, terms).collect()}
    exp = _py_bm25(corpus, terms)
    assert set(got) == set(exp)
    for i in exp:
        assert math.isclose(got[i], exp[i], rel_tol=0, abs_tol=1e-12)


def _py_repetition(text, n):
    """Gopher A1.1 model: top = mass of the argmax-by-count n-gram
    (tie: higher mass), dup = mass of grams occurring >= 2 times."""
    ws = text.lower().split()
    grams = [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]
    nc = len(text)
    if not grams or nc == 0:
        return 0.0, 0.0
    from collections import Counter

    cnt = Counter(grams)
    best = max(cnt.items(), key=lambda kv: (kv[1], kv[1] * len(kv[0])))
    top = best[1] * len(best[0])
    dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
    return top / nc, dup / nc


@given(st.lists(_doc, min_size=1, max_size=15), st.integers(min_value=1, max_value=4))
@SETTINGS
def test_repetition_matches_python_model(spark, texts, n):
    from feasibility_etl_spark.operators.text import repetition_signals

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (r[f"top{n}_frac"], r[f"dup{n}_frac"])
        for r in repetition_signals(df, top_ns=(n,), dup_ns=(n,)).collect()
    }
    for i, t in enumerate(texts):
        et, ed = _py_repetition(t, n)
        assert math.isclose(got[i][0], et, rel_tol=0, abs_tol=1e-12), (i, t)
        assert math.isclose(got[i][1], ed, rel_tol=0, abs_tol=1e-12), (i, t)


def _py_substring_dedup(rows: list[tuple[int, str]], k: int):
    """Pure-Python model of operators.dedup.substring_dedup: duplicated
    k-token spans removed from every non-canonical occurrence (canonical
    = min (doc, pos)), docs rebuilt from surviving original tokens."""
    toks = {d: t.split() for d, t in rows if t.strip()}
    occ: dict[tuple, list[tuple[int, int]]] = {}
    for d in sorted(toks):
        tl = [w.lower() for w in toks[d]]
        for i in range(len(tl) - k + 1):
            occ.setdefault(tuple(tl[i:i + k]), []).append((d, i))
    dup_starts: dict[int, set[int]] = {}
    for g, occs in occ.items():
        if len(occs) > 1:
            first = min(occs)
            for o in occs:
                if o != first:
                    dup_starts.setdefault(o[0], set()).add(o[1])
    out = {}
    for d, t in toks.items():
        covered = set()
        for i in dup_starts.get(d, ()):
            covered.update(range(i, i + k))
        kept = [w for j, w in enumerate(t) if j not in covered]
        out[d] = (" ".join(kept), len(t), len(t) - len(kept))
    return out


_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta",
                         "Eta", "THETA", "iota", "kappa"])
_doc = st.lists(_word, min_size=0, max_size=14).map(" ".join)


@SETTINGS
@given(st.lists(_doc, min_size=1, max_size=8))
def test_substring_dedup_matches_python_model(spark, texts):
    from feasibility_etl_spark.operators.dedup import substring_dedup

    k = 3
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_tok, r.n_removed)
        for r in substring_dedup(df, k=k).collect()
    }
    want = _py_substring_dedup(rows, k)
    assert got == want


# full codepoint range INCLUDING astral planes (Spark's split('')/ascii
# and Python's ord are both codepoint-based — probed round 8: U+1F600
# splits to one element, ascii()=128512, length counts it once). Lone
# surrogates (Cs) stay excluded here — hypothesis would emit them inside
# otherwise-valid text and their Spark-side transport is pickle-path
# specific; the dedicated regression test below pins that edge.
_uni_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x10FFFF),
    min_size=0,
    max_size=40,
)


@SETTINGS
@given(st.lists(_uni_text, min_size=1, max_size=10))
def test_winnow_arrow_rows_and_python_model_agree(spark, texts):
    """The numpy serving path's (doc, fp) rows equal a direct Python model
    of SWA winnowing over arbitrary unicode — including sub-k docs,
    sub-window docs, and non-ASCII codepoints (the UTF-32 vs ``ord``
    parity surface)."""
    from feasibility_etl_spark.operators.text import winnow_fingerprints_arrow

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arw = {(r.doc_id, r.fp) for r in winnow_fingerprints_arrow(df).collect()}
    assert arw == py_winnow_rows(rows)


def test_winnow_arrow_lone_surrogate_does_not_crash(spark):
    """A lone surrogate (possible via createDataFrame's pickle path;
    impossible through parquet) used to raise UnicodeEncodeError inside
    the arrow path's utf-32 encode and fail the whole job. Now the doc
    hashes like any other: the fingerprints equal the Python model's over
    the text as Spark stores it."""
    from feasibility_etl_spark.operators.text import winnow_fingerprints_arrow

    df = spark.createDataFrame(
        [(0, "ab\ud800cdefghij"), (1, "plain ascii text here")],
        "doc_id long, text string",
    )
    arw = {(r.doc_id, r.fp) for r in winnow_fingerprints_arrow(df).collect()}
    stored = [(r.doc_id, r.text) for r in df.collect()]
    assert arw == py_winnow_rows(stored) and any(d == 0 for d, _ in arw)


def _py_blocked_jaccard(rows, threshold: float):
    """Direct model: exact token-set Jaccard within (lang, source) blocks."""
    out = set()
    sets = {i: set(t.lower().split()) for i, _l, _s, t in rows}
    for ai, al, as_, _ in rows:
        for bi, bl, bs, _ in rows:
            if ai >= bi or al != bl or as_ != bs:
                continue
            a, b = sets[ai], sets[bi]
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            if j >= threshold:
                out.add((ai, bi, round(j, 9)))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "de"]),
            st.sampled_from(["web", "book"]),
            st.lists(_word, min_size=0, max_size=8).map(" ".join),
        ),
        min_size=1,
        max_size=10,
    ),
    st.sampled_from([0.2, 0.5]),
)
def test_adaptive_jaccard_matches_python_model_at_every_cutoff(
    spark, docs, threshold
):
    """The round-7 adaptive candidate stage is EXACT whatever the routing:
    pure all-pairs (cutoff ∞), pure prefix (cutoff 0), and a mid cutoff
    all reproduce a direct Python model of within-block token-set Jaccard
    on arbitrary corpora (empty docs, duplicate texts, singleton blocks)."""
    from feasibility_etl_spark.operators.dedup import blocked_jaccard_pairs

    rows = [(i, l, s, t) for i, (l, s, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string, text string")
    want = _py_blocked_jaccard(rows, threshold)
    for cutoff in (0, 2, 10**18):
        got = {
            (r.id_a, r.id_b, round(r.jaccard_sim, 9))
            for r in blocked_jaccard_pairs(
                df, ["lang", "source"], threshold=threshold,
                allpairs_max_pairs=cutoff,
            ).collect()
        }
        assert got == want, f"cutoff={cutoff}"
