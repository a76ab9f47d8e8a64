"""BM25 full-text scoring over a document corpus — the retrieval
primitive a training-data pipeline needs for query-driven corpus
curation (pulling topical subsets, eval-set mining, boosted sampling).

Reference parity: the reference engine has no text-retrieval surface
(schema.sql:22-173 is relational only); this extends the TEXT family per
the training-pipeline mandate, using the classic Robertson BM25 with
Lucene's +1 idf floor.

Plan shape at scale (the point of the formulation):

- Per-term term frequencies are computed INSIDE the row —
  ``size(filter(tokens, t -> t = term))`` per query term — so the corpus
  is never exploded into a (doc, token) table and nothing shuffles by
  token. Query terms are literals; q extra columns, one scan.
- The corpus statistics BM25 needs (N, avg doc length, per-term document
  frequencies) are ONE global aggregate over those tf columns — a
  single-row frame, map-side partials, one tiny shuffle — broadcast back
  with a cross join. Two passes over the text column total, both pruned
  to (id, text) at the parquet scan.
- Scoring is a pure codegen'd double expression; top-k retrieval is
  ``orderBy().limit(k)``, which Spark executes as TakeOrderedAndProject
  (per-partition heaps, k rows to the driver — no global sort).

Floating-point determinism: the score is a sum over the FIXED query-term
order of per-term doubles, each derived from exact longs (tf, dl, df, N)
— no cross-row double aggregation anywhere, so results are bit-stable
across partitionings and engines evaluating IEEE doubles in the same
expression order (the DuckDB oracle mirrors the expression tree).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    carry: list[str] | None = None,
) -> DataFrame:
    """Score every document against ``query_terms``: returns
    ``(id_col, bm25)`` — plus any ``carry`` columns of ``df``, kept in
    the scoring projection so composing callers need no id-keyed
    re-join (column pruning drops them from the statistics branch) —
    with the classic BM25

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(d, t) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))

    summed over the query terms (a doc matching no term scores 0.0).
    Terms are matched against the lower-cased whitespace tokens of
    ``text_col`` (the family's shared tokenizer). Duplicate query terms
    are collapsed; term order in the sum is the caller's order, which
    pins the floating-point result.
    """
    # dedup preserving first-occurrence order: the sum order is part of
    # the deterministic contract
    seen: dict[str, None] = {}
    for t in query_terms:
        seen.setdefault(t.lower())
    terms = list(seen)
    if not terms:
        raise ValueError("query_terms must contain at least one term")

    # NB: 1-ary lambda via factory — a `t=t` default would make the lambda
    # 2-ary, which F.filter treats as (element, index) (SURVEY perf note).
    def _match(term: str):
        return lambda x: x == F.lit(term)

    toks = tokens(F.lower(F.col(text_col)))
    extra = [c for c in (carry or []) if c != id_col]
    base = df.select(
        F.col(id_col),
        *extra,
        F.size(toks).cast("long").alias("_dl"),
        *[
            F.size(F.filter(toks, _match(t))).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )

    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )

    scored = base.crossJoin(F.broadcast(stats))
    n = F.col("_n").cast("double")
    # degenerate corpus (every doc tokenizes empty): avgdl = 0 and the
    # length-normalization ratio's limit is 0 — without the guard the
    # division poisons the whole score (NaN / ANSI divide-by-zero) even
    # though every tf is 0 and the score should be 0.0
    dl_ratio = F.when(F.col("_sumdl") == 0, F.lit(0.0)).otherwise(
        F.col("_dl").cast("double") / (F.col("_sumdl").cast("double") / n)
    )
    norm = F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl_ratio)

    def term_score(i: int) -> Column:
        tf = F.col(f"_tf{i}").cast("double")
        dfreq = F.col(f"_df{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        # tf = 0 short-circuits to exactly 0.0: skips the division for
        # non-matching docs AND covers the b=1.0 degenerate case (an
        # empty doc gets norm = k1*b*0 = 0, so tf/(tf+norm) would be
        # 0/0 → NaN even though the score is defined to be 0.0)
        return F.when(F.col(f"_tf{i}") == 0, F.lit(0.0)).otherwise(
            idf * tf * F.lit(k1 + 1.0) / (tf + norm)
        )

    score = term_score(0)
    for i in range(1, len(terms)):
        score = score + term_score(i)
    return scored.select(id_col, *extra, score.alias("bm25"))


def _ranked_take(scored: DataFrame, score_col: str, id_col: str, k: int) -> DataFrame:
    """Top-``k`` of ``scored`` as ``(id_col, score_col, rank)``,
    score-desc with id-asc tie-break (re-runs and engines agree). Executes
    as TakeOrderedAndProject — per-partition partial top-k, merged k rows
    on the driver, no global sort (plan-asserted in tests).

    Rank is derived from the ordered take itself: the k rows fold into
    one sorted array (``sort_array`` over ``struct(-score, id)``) and
    ``posexplode`` numbers them. No window function, so no unpartitioned
    WindowExec (which would log a move-everything-to-one-partition
    warning on every run for what is a k-row operation)."""
    top = scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)
    item = F.struct((-F.col(score_col)).alias("_negs"), F.col(id_col).alias("_id"))
    packed = top.agg(F.sort_array(F.collect_list(item)).alias("_top"))
    return packed.select(F.posexplode("_top").alias("_pos", "_row")).select(
        F.col("_row._id").alias(id_col),
        (-F.col("_row._negs")).alias(score_col),
        (F.col("_pos") + 1).cast("long").alias("rank"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    topk: int = 10,
    score_col: str = "rrf",
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    fuse N ranked lists into one by ``score(d) = Σ_r 1 / (k + rank_r(d))``
    — the standard hybrid-retrieval combiner (lexical BM25 + semantic
    ANN), robust to incomparable score scales because only RANKS enter.

    Each input needs ``(id_col, rank)``; documents absent from a list
    contribute 0 for it. k=60 is the paper's constant. Inputs are top-k
    lists by construction (a few dozen rows), so the full-outer join
    chain and the final take are driver-trivial at any corpus scale —
    all the heavy lifting happened inside the per-system retrievers.

    Determinism: the score is a FIXED-ORDER sum (callers' list order) of
    ``1/(k + rank)`` doubles from exact integer ranks — bit-stable across
    engines; ties break by id.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    renamed = [
        r.select(F.col(id_col), F.col("rank").alias(f"_r{i}"))
        for i, r in enumerate(rankings)
    ]
    joined = renamed[0]
    for nxt in renamed[1:]:
        joined = joined.join(nxt, id_col, "full_outer")
    score = None
    for i in range(len(renamed)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"_r{i}").cast("double")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    scored = joined.select(F.col(id_col), score.alias(score_col))
    return _ranked_take(scored, score_col, id_col, topk)
