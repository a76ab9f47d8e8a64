"""Text-analysis operators for training-data pipelines — all native Columns.

Language-ID, quality scoring, token counting, and fingerprinting over a text
column. Everything here is a pure Column expression (regex + higher-order
functions) — no Python UDFs — so a 100 TB documents scan stays inside
whole-stage codegen with filters pushed to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: Tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Deliberately small: the operator's job is the *Spark shape* of language
#: scoring (per-language token-hit counts → argmax), swap in real lexicons
#: for production.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "del"],
    "de": ["der", "die", "das", "und", "nicht", "ein", "eine", "ist", "zu", "mit"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string> (empty array for empty text).

    ``split(trim(x))`` can only emit an empty-string element when the input
    is all-whitespace (split("") → [""]), so ``array_remove(…, "")`` gives
    the empty-array-on-empty-text rule without a conditional branch — the
    ``when(length==0, …).otherwise(split(…))`` formulation measured ~7×
    slower at sf0.1 (both branches' trees evaluated per row)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_remove(F.split(F.trim(c), r"\s+"), "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (long)."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: words + digits + punctuation as separate
    tokens (a BPE-flavored regex segmentation, cheap proxy for tokenizer
    budgeting at corpus scale)."""
    c = F.col(text) if isinstance(text, str) else text
    seg = F.regexp_replace(c, r"([0-9]|[^\sA-Za-z0-9])", r" $1 ")
    return F.size(tokens(seg)).cast("long")


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang`` (0.0 for empty text)."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(toks).cast("double")
    )


def punct_ratio(text: Column | str) -> Column:
    """Fraction of non-space characters that are not alphanumeric."""
    c = F.col(text) if isinstance(text, str) else text
    no_space = F.regexp_replace(c, r"\s", "")
    punct = F.regexp_replace(no_space, r"[A-Za-z0-9]", "")
    return F.when(F.length(no_space) == 0, F.lit(0.0)).otherwise(
        F.length(punct).cast("double") / F.length(no_space).cast("double")
    )


def mean_word_length(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(toks).cast("double")
    )


def quality_score(text: Column | str, lang: str = "en") -> Column:
    """Composite [0, 1] quality score: length, punctuation, stopword signals.

    A Gopher-rules-flavored heuristic: reasonable length (saturating at 200
    tokens), low punctuation density, and a healthy stopword ratio indicate
    natural prose. Weights are illustrative; the operator contract is the
    signal plumbing, not the constants.
    """
    n = token_count(text).cast("double")
    length_score = F.least(n / F.lit(200.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(4.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text, lang) * F.lit(4.0), F.lit(1.0))
    return (length_score * F.lit(0.4) + punct_score * F.lit(0.3) + stop_score * F.lit(0.3))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID via stopword-hit argmax + CJK detection.

    Scores each candidate language by stopword hits; a document whose
    characters are predominantly CJK short-circuits to ``zh``. Ties and
    zero-hit documents fall back to ``und``. Pure Column expr: the argmax is
    ``array_max`` over (score, lang) structs — struct comparison orders by
    score first, then lang, making ties deterministic.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(F.lower(c))
    scored = []
    for lang, words in LANG_STOPWORDS.items():
        stop = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
        scored.append(F.struct(hits.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scored))
    cjk = F.length(F.regexp_replace(c, r"[^一-鿿]", ""))
    total_chars = F.length(F.regexp_replace(c, r"\s", ""))
    # cjk/total > 0.3 phrased multiplicatively: `&` does not short-circuit,
    # so a division here would throw under ANSI mode when total_chars = 0
    return (
        F.when(
            (total_chars > 0)
            & (cjk.cast("double") > F.lit(0.3) * total_chars.cast("double")),
            F.lit("zh"),
        )
        .when(best["score"] > 0, best["lang"])
        .otherwise(F.lit("und"))
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, punctuation stripped, whitespace collapsed). Stable across
    runs and engines — the exact-dedup key."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", "")
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    return F.md5(norm.cast("binary"))


#: Polynomial rolling-hash parameters for winnowing. M keeps every term and
#: the running sum far below 2^63 so Spark (wrapping) and any oracle engine
#: (erroring on overflow) see identical arithmetic.
WINNOW_BASE = 31
WINNOW_MOD = 1_000_000_007


def winnow_fingerprints_arrow(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
):
    """Winnowing fingerprints via numpy rolling-hash + sliding-min inside
    ``mapInPandas`` → DataFrame (id, fp) rows — the local-fingerprinting
    scheme (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every character
    k-gram with a polynomial rolling hash, then keep the minimum of each
    window of ``w`` consecutive hashes, so any shared substring of length
    ≥ k+w-1 between two documents is guaranteed to share a fingerprint
    (md5 ``fingerprint`` only catches full-content dups). Deterministic:
    fixed base/modulus, no seeds. Pinned against a pure-Python model in
    tests and against the DuckDB oracle by TEXT-WINNOW.

    Why numpy: a relational formulation pays ~1 row PER CHARACTER
    through a shuffle-backed window — linear, but with a constant factor
    that made TEXT-WINNOW the slowest sf1 sweep entry (2,798 s). Here a
    document never leaves its executor: the k-gram hash is k vectorized
    multiply-adds over the codepoint array (int64 — codepoint < 2²¹ ×
    pow < 2³⁰ × k=8 stays under 2⁵⁴, no overflow before the mod) and the
    w-window minimum is one strided ``sliding_window_view`` reduction —
    the group_cosine_pairs precedent (PERF-NOTES 28) applied to rolling
    hashes. ZERO data shuffles: only a doc-spreading repartition (a
    single parquet file otherwise pins the whole corpus to one task).

    Exact-parity details: ``str.lower()``/UTF-32 codepoints match
    ``F.lower``/``F.ascii`` and the oracle's ``lower``/``ord``; docs
    shorter than k emit nothing; fewer than w hashes emit the single
    global minimum; per-doc ``np.unique`` gives distinct (id, fp) rows
    (ids never collide across docs)."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    pows = np.array(
        [pow(WINNOW_BASE, j, WINNOW_MOD) for j in range(k)], dtype=np.int64
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            ids_out, fps_out = [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                s = ("" if txt is None else str(txt)).lower()
                n = len(s)
                if n < k:
                    continue
                # surrogatepass: a lone surrogate (possible via
                # createDataFrame from raw Python strings; impossible
                # through parquet/Arrow, which enforce valid UTF-8)
                # encodes as its own codepoint instead of raising and
                # failing the whole job — matching ord()/F.ascii
                # semantics of "codepoint of the char as stored"
                codes = np.frombuffer(
                    s.encode("utf-32-le", errors="surrogatepass"),
                    dtype=np.uint32,
                ).astype(np.int64)
                nh = n - k + 1
                h = np.zeros(nh, dtype=np.int64)
                for j in range(k):
                    h += codes[j : j + nh] * pows[j]
                h %= WINNOW_MOD
                fps = (
                    np.array([h.min()], dtype=np.int64)
                    if nh < w
                    else np.unique(sliding_window_view(h, w).min(axis=1))
                )
                ids_out.append(np.full(len(fps), did))
                fps_out.append(fps)
            if ids_out:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids_out),
                        "fp": np.concatenate(fps_out),
                    }
                )

    spread = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(gen, f"{id_col} {id_type}, fp long")


#: Minimal HTML entity table for clean_text — applied in a fixed order on
#: both engines (Spark and the oracle), so double-encoded entities resolve
#: identically everywhere.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", "\""),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def clean_text(text: Column | str) -> Column:
    """Pre-tokenization normalization: strip HTML tags, decode the common
    entities, drop control characters, collapse whitespace, trim.

    The standard first pass over crawled text before token counting /
    quality scoring / shingling. Pure regexp_replace chain — codegen'd,
    order-preserving, and expressible verbatim in the oracle (DuckDB RE2
    needs the 'g' flag; Spark replaces all matches by default).
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, repl in HTML_ENTITIES:
        c = F.regexp_replace(c, ent, repl)
    c = F.regexp_replace(c, r"[\x00-\x1f\x7f]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


#: PII patterns, applied in this fixed order (emails first so their digit
#: runs can't be re-matched as phone fragments; IPs before phones for the
#: same reason). Deliberately RE2-safe: identical semantics under Spark's
#: Java regex and DuckDB's RE2 (oracle side needs the 'g' flag).
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b"),
]


def pii_counts(text: Column | str) -> list[Column]:
    """Per-kind PII match counts on the RAW text, one ``pii_<kind>`` column
    per pattern. Counts are per-pattern (a string matching two patterns
    counts in both); redaction below is sequential, so the redacted text is
    single-pass consistent. Pure ``regexp_count`` — codegen'd, zero Python.
    """
    c = F.col(text) if isinstance(text, str) else text
    return [
        F.regexp_count(c, F.lit(pat)).cast("long").alias(f"pii_{kind}")
        for kind, pat in PII_PATTERNS
    ]


def redact_pii(text: Column | str, token: str = "[PII]") -> Column:
    """Replace every PII match with ``token``, patterns applied in the
    fixed ``PII_PATTERNS`` order — the scrub a training corpus gets before
    packing. Chain of ``regexp_replace`` (replace-all on both engines), so
    the whole scrub stays inside whole-stage codegen; at 100 TB this is a
    map-only pass with no shuffle and no Python.
    """
    c = F.col(text) if isinstance(text, str) else text
    for _, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    ``chunk_tokens``-sized windows with ``overlap`` tokens carried between
    consecutive chunks (stride = chunk_tokens − overlap) — the standard
    prep for fixed-context training and RAG indexing.

    Fully relational fan-out: tokenize once, ``posexplode`` the chunk-start
    sequence (0, stride, 2·stride, …), slice per start. Row multiplication
    is ⌈n/stride⌉ — linear in corpus tokens, no Python, no shuffle (the
    explode is map-side). Tail rule: a final window that would add no new
    tokens vs its predecessor (start + overlap ≥ n) is dropped; empty
    documents produce no chunks. Returns (id, chunk_id, chunk_text,
    n_tok) with chunk_id dense from 0 in document order.
    """
    if overlap >= chunk_tokens:
        raise ValueError(f"overlap ({overlap}) must be < chunk_tokens ({chunk_tokens})")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    ex = df.select(
        id_col,
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
        F.posexplode(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride))
        ).alias("chunk_id", "_start"),
    )
    keep = (F.col("_start") < F.col("_n")) & (
        (F.col("_start") == 0) | (F.col("_start") + overlap < F.col("_n"))
    )
    return ex.where(keep).select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)).alias(
            "chunk_text"
        ),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start")).cast("long").alias("n_tok"),
    )


def top_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str | None = None,
    k: int = 20,
) -> DataFrame:
    """Top-k most frequent tokens, per group or corpus-global — vocabulary
    building / heavy-hitter inspection over a training corpus.

    Plan shape at scale: the token explode is map-side; the (group, token)
    count pre-aggregates map-side (partial aggregation) before its single
    shuffle; the top-k never globally sorts the vocabulary — grouped, it
    is a window partitioned by group (rank streams per group); global, it
    is ``orderBy(...).limit(k)``, which Spark executes as
    TakeOrderedAndProject (per-partition partial top-k, merged on the
    driver: k rows, not the vocabulary). Ties break by term ascending so
    re-runs and engines agree. Returns (group?, term, cnt, rank).
    """
    toks = tokens(F.col(text_col))
    keys = [group_col] if group_col else []
    counts = (
        df.select(*keys, F.explode(toks).alias("term"))
        .groupBy(*keys, "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if group_col:
        w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("term"))
        return (
            counts.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k)
        )
    ordered = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))  # k rows only
    return ordered.withColumn("rank", F.row_number().over(w).cast("long"))


def word_ngrams(text: Column | str, n: int) -> Column:
    """Strict word n-grams of the lower-cased token stream → array<string>.

    Unlike ``dedup.shingles`` there is NO short-document fallback: a
    document with fewer than ``n`` words yields an empty array, which is
    what repetition statistics need (a 3-word doc has no 5-gram, duplicated
    or otherwise). Same zip_with-shifted-arrays build as ``shingles``
    (one concat per gram, no per-position slice allocation)."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    joined = toks
    for i in range(2, n + 1):
        joined = F.zip_with(
            joined, F.slice(toks, i, F.size(toks)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    grams = F.filter(joined, lambda x: x.isNotNull())
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5, 10),
    carry: list[str] | None = None,
) -> DataFrame:
    """Per-document repetition statistics — the Gopher-style quality
    signals (Rae et al. 2021, appendix A1.1) a training-data pipeline uses
    to drop degenerate/boilerplate text:

    - ``top{n}_frac`` for n in ``top_ns``: character mass of the single
      most *frequently occurring* word n-gram —
      ``count(argmax-by-count gram) * length(gram) / length(text)``, the
      statistic as Gopher (Rae et al., A1.1) defines it, so published
      thresholds transfer. Ties on count break by higher mass then gram
      (deterministic; an equal-mass tie cannot change the output since
      only the mass is emitted).
    - ``dup{n}_frac`` for n in ``dup_ns``: character mass of all word
      n-grams occurring more than once —
      ``sum(count * length(gram)) / length(text)`` over grams with
      count ≥ 2. Overlapping occurrences are counted with multiplicity
      (the cheap, join-free accounting every large-scale implementation
      uses; exact overlap-dedup would need positional self-joins).

    Documents with no n-gram of a given size (or empty text) score 0.0.

    ``carry``: columns of ``df`` to keep alongside the fracs (default:
    just ``id_col``) — composing callers (TEXT-PROFILE) carry the whole
    row through so the stats stay in the same single projection instead
    of forcing an id-keyed self-join.

    Plan shape at scale: ZERO shuffle — a per-document statistic needs no
    exchange. Each requested n sorts the doc's gram array
    (``array_sort``) and folds it with ONE ``F.aggregate`` pass that
    tracks the current run plus the best-(count, mass) and the
    duplicated-mass accumulators, so the whole operator is a single
    projected scan. The previous formulation (tagged explode → (id, n,
    gram) count → per-doc agg) shuffled every gram string twice and
    measured ~2× slower at sf0.1; per-doc sort+fold also never builds a
    corpus-wide gram table, so it is insensitive to corpus size — only
    to document length (sort is O(g log g) per doc).

    Reference parity: the reference engine has no corpus-quality layer
    (schema.sql:22-173 is relational only); this extends the TEXT family
    per the training-pipeline mandate.
    """
    n_chars = F.length(text_col).cast("long")

    def _run_stats(n: int) -> Column:
        """Fold the sorted gram array into (best_mass, dup_mass).

        Accumulators update INCREMENTALLY per element (a run of length r
        re-evaluates best at every prefix j ≤ r; prefixes are dominated
        lexicographically by the full run, so the max is unchanged, and
        dup adds 2·len at r=2 then len per extension, totalling r·len).
        The alternative close-the-run-on-boundary shape nests the whole
        run-closing struct once per field, and the resulting expression
        tree made one-shot analysis/optimization the dominant cost."""
        grams = F.array_sort(word_ngrams(text_col, n))
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best_c"),
            F.lit(0).cast("long").alias("best_m"),
            F.lit(0).cast("long").alias("dup"),
        )

        def step(a: Column, x: Column) -> Column:
            ln = F.length(x).cast("long")
            # prev is NULL on the first element: `same` is then NULL and
            # every when(same, ...) falls through to the new-run branch
            same = a["prev"] == x
            run = F.when(same, a["run"] + 1).otherwise(F.lit(1).cast("long"))
            mass = run * ln
            better = (run > a["best_c"]) | ((run == a["best_c"]) & (mass > a["best_m"]))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.when(better, run).otherwise(a["best_c"]).alias("best_c"),
                F.when(better, mass).otherwise(a["best_m"]).alias("best_m"),
                (
                    a["dup"]
                    + F.when(same & (run == 2), 2 * ln)
                    .when(same & (run > 2), ln)
                    .otherwise(F.lit(0).cast("long"))
                ).alias("dup"),
            )

        return F.aggregate(grams, acc0, step)

    def frac(raw: Column) -> Column:
        return F.when(F.col("_nc") == 0, F.lit(0.0)).otherwise(
            raw.cast("double") / F.col("_nc").cast("double")
        )

    # Materialize each n's fold once in an inner projection: an n in both
    # top_ns and dup_ns is consumed twice, and the fold is expensive
    # enough that CollapseProject keeps the two-level shape rather than
    # inlining (duplicating) it.
    ns = sorted(set(top_ns) | set(dup_ns))
    inner = df.select(
        "*",
        n_chars.alias("_nc"),
        *[_run_stats(n).alias(f"_s{n}") for n in ns],
    )
    keep = [id_col] if carry is None else list(carry)
    return inner.select(
        *keep,
        *[frac(F.col(f"_s{n}")["best_m"]).alias(f"top{n}_frac") for n in top_ns],
        *[frac(F.col(f"_s{n}")["dup"]).alias(f"dup{n}_frac") for n in dup_ns],
    )


def repetition_signals_arrow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3),
    dup_ns: tuple[int, ...] = (5, 10),
    carry: list[str] | None = None,
) -> DataFrame:
    """Vectorized twin of :func:`repetition_signals` via ``mapInPandas``
    — same values (parity-pinned in tests; the relational form stays as
    the oracle-shaped formulation), ~3.6× faster at sf0.1 (r10 profile;
    the winnow/group-cosine precedent, PERF-NOTES 28/32).

    Why: the relational fold is zero-shuffle and linear, but HOF
    ``aggregate`` lambdas evaluate interpreted per array element with a
    5-field struct accumulator per gram. Here each document's gram
    counting is one dict pass (Counter) per requested n — the per-doc
    cost drops below the interpreter's, and a document never leaves its
    executor: ZERO shuffles, identical scale posture.

    Exact-parity details: lower-casing and the character count are
    computed JVM-SIDE before the UDF (``F.lower`` / ``F.length`` ride in
    as ``_lc`` / ``_nchars`` columns), so the case contract is Spark's
    own — Python ``str.lower()`` never runs and one-to-many Unicode case
    mappings (e.g. U+0130) cannot diverge from the relational form
    (ADVICE r10). Tokens replay ``split(trim(x), '\\s+')`` minus empties
    as a single ``[^ \\t\\n\\x0b\\f\\r]+`` findall over the
    pre-lowered text (Java default ``\\s``); gram mass uses Python
    ``len`` = codepoints = ``F.length``; fracs are the same long/long
    IEEE division; docs with fewer than n words (or empty text) score
    0.0 and null text yields null fracs, both matching the relational
    branch structure."""
    import re as _re

    from collections import Counter

    import pandas as pd

    nonws = _re.compile(r"[^ \t\n\x0b\f\r]+")
    keep = [id_col] if carry is None else list(carry)
    ns = sorted(set(top_ns) | set(dup_ns))
    top_cols = [f"top{n}_frac" for n in top_ns]
    dup_cols = [f"dup{n}_frac" for n in dup_ns]
    schema = ", ".join(
        [f"{c} {df.schema[c].dataType.simpleString()}" for c in keep]
        + [f"{c} double" for c in top_cols + dup_cols]
    )

    def gen(batches):
        for pdf in batches:
            tops: dict[int, list] = {n: [] for n in ns}
            dups: dict[int, list] = {n: [] for n in ns}
            for t, nc in zip(pdf["_lc"], pdf["_nchars"]):
                if t is None:
                    for n in ns:
                        tops[n].append(None)
                        dups[n].append(None)
                    continue
                toks = nonws.findall(str(t))
                nc = int(nc)
                for n in ns:
                    if nc == 0 or len(toks) < n:
                        tops[n].append(0.0)
                        dups[n].append(0.0)
                        continue
                    cnt = Counter(
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    )
                    best_m = max((c, c * len(g)) for g, c in cnt.items())[1]
                    dup = sum(c * len(g) for g, c in cnt.items() if c >= 2)
                    tops[n].append(best_m / nc)
                    dups[n].append(dup / nc)
            out = {c: pdf[c] for c in keep}
            for n, c in zip(top_ns, top_cols):
                out[c] = tops[n]
            for n, c in zip(dup_ns, dup_cols):
                out[c] = dups[n]
            yield pd.DataFrame(out)

    inp = df.select(
        *dict.fromkeys(keep),
        F.lower(F.col(text_col)).alias("_lc"),
        F.length(text_col).cast("long").alias("_nchars"),
    )
    return inp.mapInPandas(gen, schema)


def tfidf_topterms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` CHARACTERISTIC terms by tf-idf →
    ``(id_col, term, tf, score_e9, rank)`` — keyword extraction for
    corpus curation (topical routing, index keys, dedup explainability).
    ``top_terms`` answers "what is frequent"; this answers "what makes
    THIS document different", down-weighting corpus-common words with
    the smooth idf ``ln((N+1)/(df+1)) + 1`` (never negative, never
    divides by zero).

    Plan shape at scale: the (doc, term) tf table pre-aggregates
    map-side before its one shuffle; per-term document frequency is a
    WINDOW over the term hash partition of that same table (no
    count-table self-join — novelty_signals' lesson); N attaches as a
    1-row broadcast; the final per-doc top-k is a window over the doc
    partition. Three gram-scale shuffles total, all carrying (doc,
    term, counts) rows.

    Determinism: ranking compares the 9-dp-ROUNDED score (``ln`` is
    1-ulp engine-dependent; tf ≤ doc length keeps the product's error
    under 1e-10), ties by term ascending — the TEXT-BM25-TOPK discipline.
    ``score_e9`` is the nano-scaled BIGINT of the same rounded score.
    """
    toks = tokens(F.lower(F.col(text_col)))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(F.count(F.lit(1)).alias("_n"))
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy(id_col).orderBy(
        F.desc("_score9"), F.asc("term")
    )
    idf = (
        F.log((F.col("_n").cast("double") + 1.0) / (F.col("_df").cast("double") + 1.0))
        + 1.0
    )
    return (
        tf.withColumn("_df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_score9", F.round(F.col("tf").cast("double") * idf, 9))
        .withColumn("rank", F.row_number().over(w_doc).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            F.round(F.col("_score9") * 1e9).cast("long").alias("score_e9"),
            "rank",
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str = "text_norm",
    parallelism: int | None = None,
) -> DataFrame:
    """Unicode normalization of ``text_col`` → all input columns plus
    ``out_col`` (the FineWeb-style pre-dedup pass: decomposed accents,
    compatibility ligatures/width variants, and visually-identical
    byte-distinct strings collapse to one form so exact/fuzzy dedup keys
    and tokenizers see canonical text).

    ``form``: NFC (canonical compose — the web-corpus default; DuckDB's
    ``nfc_normalize`` replays it exactly, so the driver checks this form
    FULL-ORACLE), NFKC (compatibility compose — ligatures ﬁ→fi,
    fullwidth Ａ→A, ①→1; no SQL twin, pinned by semantic tests), or
    NFD/NFKD. Arrow-batched ``mapInPandas`` (the codec tier — Spark has
    no ICU normalize Column function); ``unicodedata.normalize`` is
    C-implemented, so per-row cost is string-copy-bound."""
    import unicodedata

    from pyspark.sql import types as T

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    # fresh StructType — StructType.add MUTATES the list it came from,
    # corrupting the source DataFrame's cached schema
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.StringType())]
    )
    src = df.repartition(parallelism) if parallelism else df

    def run(batches):
        for pdf in batches:
            pdf[out_col] = [
                unicodedata.normalize(form, s) if s is not None else None
                for s in pdf[text_col]
            ]
            yield pdf

    return src.mapInPandas(run, out_schema)


def replacement_char_count(text: Column | str) -> Column:
    """Count of U+FFFD replacement characters — the scar tissue of a bad
    decode (mojibake signal; a high count means the upstream byte stream
    was read with the wrong encoding). Pure Column expr."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.length(c) - F.length(F.regexp_replace(c, "�", ""))
    ).cast("long")


def control_char_count(text: Column | str) -> Column:
    """Count of C0/C1 control characters excluding \\t \\n \\r — binary
    junk embedded in 'text' (the other half of the encoding-anomaly
    gate). Pure Column expr, RE2-portable."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.length(c)
        - F.length(
            F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
        )
    ).cast("long")


#: The Gopher required stopwords (Rae et al. 2021, arXiv:2112.11446,
#: §A1.1: a document must contain ≥2 of these to pass the rule battery).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021, arXiv:2112.11446 §A1.1)
    — the standard NAMED per-rule document filter, alongside the
    composite ``quality_score`` heuristic: per document, each raw signal
    count, each rule's boolean, and the overall ``gopher_pass``.

    Every rule is an INTEGER comparison (ratios phrased by
    cross-multiplication, e.g. "mean word length in [3, 10]" as
    ``3·n_words ≤ total_chars ≤ 10·n_words``), so the output is
    bit-stable across engines/partitionings — no float thresholds to
    drift. Pure per-row Column expressions: no shuffle, no UDF; at 100
    TB this is a map-only pass that fuses into whatever scan feeds it.

    Rules: 50 ≤ words ≤ 100k; mean word length in [3, 10]; symbol-word
    ("#"/"...") ratio < 0.1; < 90% of lines bullet-started; < 30% of
    lines ellipsis-ended; ≥ 80% of words contain an alphabetic char;
    ≥ 2 of the required stopwords present."""
    c = F.col(text_col)
    ws = tokens(c)
    lws = tokens(F.lower(c))
    lines = F.split(c, "\n")
    n_words = F.size(ws).cast("long")
    n_symbol = F.size(
        F.filter(ws, lambda x: x.contains("#") | x.contains("..."))
    ).cast("long")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines, lambda l: F.substring(F.ltrim(l), 1, 1).isin("•", "-", "*")
        )
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.endswith(F.rtrim(l), F.lit("..."))
            | F.endswith(F.rtrim(l), F.lit("…")),
        )
    ).cast("long")
    n_alpha = F.size(F.filter(ws, lambda x: x.rlike("[A-Za-z]"))).cast("long")
    n_stops = sum(
        (
            F.array_contains(lws, s).cast("int")
            for s in GOPHER_STOPWORDS
        ),
        F.lit(0),
    ).cast("long")
    out = df.select(
        id_col,
        n_words.alias("n_words"),
        F.aggregate(
            ws, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("n_chars"),
        n_symbol.alias("n_symbol_words"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis.alias("n_ellipsis_lines"),
        n_alpha.alias("n_alpha_words"),
        n_stops.alias("n_req_stops"),
    )
    w, ch = F.col("n_words"), F.col("n_chars")
    rules = {
        "r_wordcount": (w >= 50) & (w <= 100_000),
        "r_meanlen": (3 * w <= ch) & (ch <= 10 * w),
        "r_symbol": 10 * F.col("n_symbol_words") < w,
        "r_bullet": 10 * F.col("n_bullet_lines") < 9 * F.col("n_lines"),
        "r_ellipsis": 10 * F.col("n_ellipsis_lines") < 3 * F.col("n_lines"),
        "r_alpha": 10 * F.col("n_alpha_words") >= 8 * w,
        "r_stops": F.col("n_req_stops") >= 2,
    }
    for name, expr in rules.items():
        out = out.withColumn(name, expr)
    gpass = None
    for name in rules:
        gpass = F.col(name) if gpass is None else (gpass & F.col(name))
    return out.withColumn("gopher_pass", gpass)
