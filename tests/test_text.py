"""Text analysis: counts match Python; lang-ID beats the labels bar."""

from __future__ import annotations

from pyspark.sql import functions as F

from feasibility_etl_spark.operators.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    token_count,
)
from feasibility_etl_spark.sources.catalog import load

from conftest import SF0001


def test_token_count_matches_python(spark):
    docs = load(spark, SF0001, "documents").limit(50)
    rows = docs.select("text", token_count("text").alias("n")).collect()
    for r in rows:
        assert r.n == len(r.text.split()), r.text[:40]


def test_token_count_empty_text(spark):
    df = spark.createDataFrame([("",), ("   ",), ("one two",)], "text string")
    assert [r.n for r in df.select(token_count("text").alias("n")).collect()] == [0, 0, 2]


def test_bpe_ish_splits_punct_and_digits(spark):
    df = spark.createDataFrame([("ab12, cd!",)], "text string")
    # a b 1 2 , c d !  → ab | 1 | 2 | , | cd | ! = 6 tokens
    [r] = df.select(bpe_ish_token_count("text").alias("n")).collect()
    assert r.n == 6


def test_punct_ratio(spark):
    df = spark.createDataFrame([("ab!?",), ("abcd",), ("",)], "text string")
    vals = [r.p for r in df.select(punct_ratio("text").alias("p")).collect()]
    assert vals == [0.5, 0.0, 0.0]


def test_quality_score_bounded(spark):
    docs = load(spark, SF0001, "documents")
    rows = docs.select(quality_score("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_lang_id_on_real_language_samples(spark):
    # note: the driver corpus's `lang` labels do NOT correlate with its text
    # (every language uses the same English-ish vocabulary), so accuracy is
    # asserted on genuine language snippets instead
    samples = [
        ("the cat sat on the mat and it was happy for a while", "en"),
        ("el perro corre en la casa y los gatos del barrio", "es"),
        ("der hund ist nicht in das haus und die katze", "de"),
        ("le chat est dans la maison et les chiens dans le jardin", "fr"),
        ("数据库查询引擎在大规模集群上运行得很快", "zh"),
        ("zzz qqq xxx", "und"),
    ]
    df = spark.createDataFrame(samples, "text string, expected string")
    rows = df.select("expected", lang_id("text").alias("pred")).collect()
    for r in rows:
        assert r.pred == r.expected, f"{r.expected} -> {r.pred}"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",), ("different",)], "text string"
    )
    fps = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_winnow_guarantee_shared_substring_shares_fingerprint(spark):
    from feasibility_etl_spark.operators.text import winnow_fingerprints_arrow

    # winnowing guarantee: a common substring of length >= k + w - 1 = 11
    # chars forces at least one common fingerprint
    common = "identical stretch of text here"
    df = spark.createDataFrame(
        [(0, "prefix one " + common + " suffix alpha"),
         (1, "other start " + common + " different end"),
         (2, "completely unrelated content with no overlap at all")],
        "doc_id long, text string",
    )
    rows: dict[int, set[int]] = {}
    for r in winnow_fingerprints_arrow(df).collect():
        rows.setdefault(r.doc_id, set()).add(r.fp)
    assert rows[0] & rows[1], "overlapping docs must share a fingerprint"
    assert set(rows) == {0, 1, 2}


def test_winnow_arrow_equals_relational(spark):
    """The numpy/mapInPandas serving path is value-identical to the
    pure-Python winnowing model — on the real corpus AND the short-doc
    edge regimes (n < k: nothing; k ≤ n < k+w-1: the single global
    minimum)."""
    from feasibility_etl_spark.operators.text import winnow_fingerprints_arrow
    from feasibility_etl_spark.sources.catalog import load

    from conftest import SF0001
    from golden import py_winnow_rows

    docs = load(spark, SF0001, "documents").limit(80).select("doc_id", "text")
    arw = {(r.doc_id, r.fp) for r in winnow_fingerprints_arrow(docs).collect()}
    assert arw == py_winnow_rows(docs.collect()) and len(arw) > 0

    edge_rows = [
        (1, "short"),            # n < k -> no fingerprints
        (2, "exactly8!"),        # one k-gram -> global min
        (3, "ten chars!"),       # 3 hashes < w -> global min
        (4, "UPPER Case MiXeD with enough length to window"),
        (5, None),               # null text -> nothing
        (6, ""),                 # empty -> nothing
    ]
    edge = spark.createDataFrame(edge_rows, "doc_id long, text string")
    arw_e = {(r.doc_id, r.fp) for r in winnow_fingerprints_arrow(edge).collect()}
    assert arw_e == py_winnow_rows(edge_rows)
    assert {d for d, _ in arw_e} == {2, 3, 4}


def test_clean_text_semantics(spark):
    from feasibility_etl_spark.operators.text import clean_text

    rows = [
        (1, '<div class="a">Hello <b>world</b></div>'),
        (2, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end"),
        (3, "ctrl\x00chars\x1fhere\ttab\nnewline"),
        (4, "  already   clean   "),
        (5, "&amp;lt; double-encoded"),  # &amp; decodes last → stays "&lt;"
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r.id: r.c for r in df.select("id", clean_text("t").alias("c")).collect()}
    assert got[1] == "Hello world"
    assert got[2] == "a & b <tag> \"q\" 's' end"
    assert got[3] == "ctrl chars here tab newline"
    assert got[4] == "already clean"
    assert got[5] == "&lt; double-encoded"


def test_chunk_documents_overlap_and_tail_rules(spark):
    import pytest

    from feasibility_etl_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.chunk_id): (r.chunk_text, r.n_tok)
           for r in chunk_documents(docs, chunk_tokens=4, overlap=2).collect()}
    # doc 1: 10 tokens, stride 2 -> starts 0,2,4,6 kept; start 8 adds no new
    # tokens beyond the overlap (8+2 >= 10) -> dropped
    assert out[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert out[(1, 3)] == ("t6 t7 t8 t9", 4)
    assert (1, 4) not in out
    # doc 2 shorter than one window -> single short chunk
    assert out[(2, 0)] == ("a b", 2)
    # empty/whitespace docs produce no chunks
    assert not any(d in (3, 4) for d, _ in out)
    # chunk ids stay dense
    assert sorted(c for d, c in out if d == 1) == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_pii_redaction_and_counts(spark):
    from feasibility_etl_spark.operators.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail alice@example.com and bob.smith+x@corp.co.uk here"),
            (2, "host 10.0.0.1 dialed +1 555-123-4567 twice"),
            (3, "clean text, no identifiers at all"),
            (4, "overlap 123.456.789.1234 stays ip-then-phone ordered"),
        ],
        "id long, text string",
    )
    out = df.select("id", redact_pii("text").alias("red"), *pii_counts("text"))
    rows = {r.id: r for r in out.collect()}
    assert rows[1].pii_email == 2 and rows[1].red == "mail [PII] and [PII] here"
    assert rows[2].pii_ip == 1 and rows[2].pii_phone == 1
    assert "[PII]" in rows[2].red and "10.0.0.1" not in rows[2].red
    assert rows[3].red == "clean text, no identifiers at all"
    assert rows[3].pii_email == 0
    # 1234 breaks the ip's trailing \b, so the phone pattern claims the span
    assert rows[4].pii_ip == 0 and rows[4].pii_phone == 1
    assert rows[4].red == "overlap 123.[PII] stays ip-then-phone ordered"


def test_pii_semantics_match_duckdb_oracle(spark):
    """The exact regex chain the driver oracle uses, on adversarial strings."""
    import duckdb

    from feasibility_etl_spark.operators.text import PII_PATTERNS, pii_counts, redact_pii

    samples = [
        (1, "a@b.io c@d.org 1.2.3.4 999-888-7777 +44 020-7946-0958"),
        (2, "no-pii &amp; 1.2 12.34.56 aaa@bbb"),
        (3, "edge .5 255.255.255.255x e@x.co, (555) 123-4567"),
    ]
    df = spark.createDataFrame(samples, "id long, text string")
    got = {
        r.id: (r.red, r.pii_email, r.pii_ip, r.pii_phone)
        for r in df.select("id", redact_pii("text").alias("red"), *pii_counts("text")).collect()
    }
    con = duckdb.connect()
    red_sql = "text"
    for _, pat in PII_PATTERNS:
        red_sql = f"regexp_replace({red_sql}, '{pat}', '[PII]', 'g')"
    cnt_sql = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS pii_{kind}"
        for kind, pat in PII_PATTERNS
    )
    con.execute("CREATE TABLE t(id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", samples)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(f"SELECT id, {red_sql}, {cnt_sql} FROM t").fetchall()
    }
    assert got == want, (got, want)


def test_top_terms_grouped_and_global(spark):
    from feasibility_etl_spark.operators.text import top_terms

    df = spark.createDataFrame(
        [
            (1, "en", "a a a b b c"),
            (2, "en", "b d"),
            (3, "fr", "x x y"),
        ],
        "doc_id long, lang string, text string",
    )
    got = [
        (r.lang, r.term, r.cnt, r.rank)
        for r in top_terms(df, "text", "lang", k=2)
        .orderBy("lang", "rank")
        .collect()
    ]
    assert got == [
        ("en", "a", 3, 1),
        ("en", "b", 3, 2),  # tie with a -> term asc
        ("fr", "x", 2, 1),
        ("fr", "y", 1, 2),
    ]
    top_global = [
        (r.term, r.cnt, r.rank)
        for r in top_terms(df, "text", k=3).orderBy("rank").collect()
    ]
    assert top_global == [("a", 3, 1), ("b", 3, 2), ("x", 2, 3)]
    # global path must be TakeOrderedAndProject, not a global sort+window
    plan = top_terms(df, "text", k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_repetition_signals_hand_computed(spark):
    from feasibility_etl_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [
            # "ab cd ab cd ab" (14 chars): bigram "ab cd" x2, "cd ab" x2 →
            # top2 mass = 2*5 = 10; dup2 mass = 2*5 + 2*5 = 20
            (1, "ab cd ab cd ab"),
            (2, "unique words only here"),  # no repeats → dup = 0
            (3, "one"),                     # no bigram at all → all 0
            (4, ""),                        # empty → all 0
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in repetition_signals(docs, top_ns=(2,), dup_ns=(2,)).collect()
    }
    assert got[1].top2_frac == 10 / 14 and got[1].dup2_frac == 20 / 14
    # doc 2 has bigrams (longest "unique words" = 12 chars) but none repeated
    assert got[2].top2_frac == 12 / 22 and got[2].dup2_frac == 0.0
    assert got[3].top2_frac == 0.0 and got[3].dup2_frac == 0.0
    assert got[4].top2_frac == 0.0 and got[4].dup2_frac == 0.0


def test_repetition_arrow_parity_with_relational(spark):
    """repetition_signals_arrow must be VALUE-IDENTICAL to the relational
    fold — it is what TEXT-REPETITION serves (r10), so a divergence here
    is an oracle failure waiting to happen. Edges: repeats, no-repeats,
    short doc, empty, whitespace-only, null, accented + CJK text, multi-
    whitespace runs, and carry columns."""
    from feasibility_etl_spark.operators.text import (
        repetition_signals,
        repetition_signals_arrow,
    )

    docs = spark.createDataFrame(
        [
            (1, "ab cd ab cd ab", "a"),
            (2, "unique words only here", "a"),
            (3, "one", "b"),
            (4, "", "b"),
            (5, "   \t \n ", "b"),
            (6, None, "c"),
            (7, "Élan vital élan VITAL Élan vital", "c"),
            (8, "深度 学习 深度 学习 模型", "c"),
            (9, "a  b\t\tc\na  b  c", "d"),
            (10, "aa aa aa aa verylongword1 verylongword2", "d"),
            # one-to-many Unicode case mappings (ADVICE r10): U+0130 İ
            # lowers to 2 codepoints in Python but 1 in JVM/UTF8String;
            # ß/ẞ and dotless-I complete the classic trio. Parity holds
            # BY CONSTRUCTION now (lower/length run JVM-side), this row
            # keeps it pinned
            (11, "İstanbul İstanbul STRAẞE straße Iı İstanbul", "e"),
        ],
        "doc_id long, text string, grp string",
    )
    kw = dict(top_ns=(2, 3), dup_ns=(2, 5), carry=["doc_id", "grp"])
    rel = {r.doc_id: tuple(r) for r in repetition_signals(docs, **kw).collect()}
    arr = {
        r.doc_id: tuple(r) for r in repetition_signals_arrow(docs, **kw).collect()
    }
    assert rel == arr and len(rel) == 11
    # null text → null fracs on both sides (not silently zeroed)
    assert rel[6][2] is None
    # corpus parity at sf0.001 (real data, default columns)
    from feasibility_etl_spark.sources.catalog import load

    from conftest import SF0001

    corpus = load(spark, SF0001, "documents")
    r2 = {r.doc_id: tuple(r) for r in repetition_signals(corpus).collect()}
    a2 = {r.doc_id: tuple(r) for r in repetition_signals_arrow(corpus).collect()}
    assert r2 == a2 and len(r2) > 0


def test_repetition_top_frac_is_gopher_argmax_by_count(spark):
    # Gopher A1.1: top{n}_frac is the char mass of the single MOST FREQUENT
    # n-gram — a rare-but-long gram must not outscore it. Here "aa aa" (cnt
    # 3, mass 15) wins over "verylongword1 verylongword2" (cnt 1, mass 27).
    from feasibility_etl_spark.operators.text import repetition_signals

    docs = spark.createDataFrame(
        [(1, "aa aa aa aa verylongword1 verylongword2")], "doc_id long, text string"
    )
    row = repetition_signals(docs, top_ns=(2,), dup_ns=(2,)).collect()[0]
    assert row.top2_frac == 15 / 39


def test_word_ngrams_strict_no_short_doc_fallback(spark):
    from feasibility_etl_spark.operators.text import word_ngrams

    df = spark.createDataFrame([("a b c",), ("a b",), ("a",), ("",)], "text string")
    rows = df.select(word_ngrams("text", 3).alias("g")).collect()
    assert rows[0].g == ["a b c"]
    assert rows[1].g == [] and rows[2].g == [] and rows[3].g == []


def test_tfidf_topterms_hand_computed(spark):
    import math

    from feasibility_etl_spark.operators.text import tfidf_topterms

    # "rare" appears only in doc 1; "common" in all 3 docs. For doc 1 the
    # rare term must outrank the common one even at equal tf.
    df = spark.createDataFrame(
        [
            (1, "common rare common rare"),
            (2, "common words here"),
            (3, "common other stuff"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rank): r for r in tfidf_topterms(df, k=2).collect()}
    assert out[(1, 1)].term == "rare" and out[(1, 2)].term == "common"
    r = out[(1, 1)]
    expect = round(2.0 * (math.log(4.0 / 2.0) + 1.0), 9)
    assert r.tf == 2 and r.score_e9 == round(expect * 1e9)
    # common has idf ln(4/4)+1 = 1 -> score == tf
    c = out[(1, 2)]
    assert c.score_e9 == round(2.0 * 1e9)
    # every doc yields at most k rows, ranked 1..k
    by_doc = {}
    for (did, rank) in out:
        by_doc.setdefault(did, []).append(rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_doc.values())


def test_compression_signals_reference_parity_and_ordering(spark):
    import zlib

    from feasibility_etl_spark.operators.compressibility import (
        compression_signals,
    )

    rows = [
        (1, "spam " * 200),                      # long-range redundancy
        (2, "the quick brown fox jumps over the lazy dog and then wanders "
            "through seventeen unrelated meadows describing each uniquely"),
        (3, ""),
        (4, "abcdefgh" * 3),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in compression_signals(df).collect()}
    # exact parity with this interpreter's zlib
    for did, text in rows:
        raw = text.encode()
        assert got[did].n_bytes == len(raw)
        if raw:
            assert got[did].n_compressed == len(zlib.compress(raw, 6))
            assert got[did].compress_ratio == len(zlib.compress(raw, 6)) / len(raw)
        else:
            assert got[did].n_compressed == 0 and got[did].compress_ratio is None
    # the template doc compresses far harder than prose
    assert got[1].compress_ratio < 0.1 < got[2].compress_ratio
    # partition invariance
    again = {
        r.doc_id: (r.n_compressed, r.compress_ratio)
        for r in compression_signals(df.repartition(3), parallelism=2).collect()
    }
    assert again == {d: (r.n_compressed, r.compress_ratio) for d, r in got.items()}


def test_normalize_text_forms_and_signals(spark):
    from feasibility_etl_spark.operators.text import (
        control_char_count,
        normalize_text,
        replacement_char_count,
    )

    rows = [
        (1, "cafe\u0301"),                 # decomposed -> NFC composes
        (2, "\ufb01le \uff21 \u2460"),    # ligature fi, fullwidth A, circled 1
        (3, None),                          # null rides through
        (4, "ok\u0007 bad\ufffd\ufffd"),  # BEL + two replacement chars
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    nfc = {r.doc_id: r.text_norm for r in normalize_text(df, form="NFC").collect()}
    assert nfc[1] == "caf\u00e9"            # composed
    assert nfc[2] == "\ufb01le \uff21 \u2460"  # NFC leaves compatibility chars
    assert nfc[3] is None

    nfkc = {r.doc_id: r.text_norm for r in normalize_text(df, form="NFKC").collect()}
    assert nfkc[1] == "caf\u00e9"
    assert nfkc[2] == "file A 1"            # compatibility folding
    import unicodedata
    assert nfkc[4] == unicodedata.normalize("NFKC", rows[3][1])

    sig = {
        r.doc_id: (r.nr, r.nc)
        for r in df.where(df.text.isNotNull()).select(
            "doc_id",
            replacement_char_count("text").alias("nr"),
            control_char_count("text").alias("nc"),
        ).collect()
    }
    assert sig[4] == (2, 1)
    assert sig[1] == (0, 0)


def test_normalize_text_rejects_unknown_form(spark):
    import pytest

    from feasibility_etl_spark.operators.text import normalize_text

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown normalization form"):
        normalize_text(df, form="NFX")
