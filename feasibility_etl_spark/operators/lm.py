"""N-gram language-model quality scoring — the CCNet-style "how much
does this document look like the reference corpus" signal, scored with
Stupid Backoff (Brants et al. 2007, "Large Language Models in Machine
Translation" — the smoothing designed FOR distributed batch systems:
no normalization pass, no held-out tuning, every quantity a plain
count).

Pipeline role: corpora are routinely filtered by LM score against a
trusted reference (CCNet buckets by Wikipedia-LM perplexity; Gopher and
LLaMA keep the convention). A full KenLM is out of scope for a pure
engine, but a bigram Stupid-Backoff model exercises the identical
distributed shape: a TRAIN pass (gram counting) and a SCORE pass
(transition-vs-model join), both relational.

Score of a document with tokens ``t_1..t_n`` (lowercased whitespace
tokens, the family tokenizer): the mean over transitions ``i=2..n`` of

    log10 S(t_i | t_{i-1})
    S(t_i | t_{i-1}) = c(t_{i-1} t_i) / c(t_{i-1})   if the bigram was seen
                     = alpha * max(c(t_i), 1) / N     otherwise (backoff)

with ``alpha = 0.4`` (the paper's constant), ``c`` counts from the
training corpus, ``N`` total training tokens. The ``max(c, 1)`` floor
gives out-of-vocabulary tokens the weight of a singleton instead of
-inf. Documents with fewer than 2 tokens have no transitions and are
absent from the scored output.

100 TB posture:
- **train**: explode → two count aggregations; the shuffle carries
  ``(gram, partial_count)`` pairs (map-side combined), never documents.
- **score**: transitions join the bigram table on ``(w1, w2)`` — a
  shuffle hash join keyed by gram. At web scale the bigram vocabulary
  is far beyond broadcast range (the paper serves its LM sharded), so
  no broadcast hint is forced; AQE may still broadcast a small trained
  model at runtime. Zipf skew on the join key is bounded because the
  probe side carries distinct-transition rows per doc, not one row per
  corpus occurrence of the gram.
- **per-doc fold**: the per-transition log-scores are scaled to
  nano-units and summed as exact BIGINTs (the ``emb_centroids``
  precedent), so the aggregate is independent of partitioning and float
  summation order — re-runs and engines agree bit-for-bit, which is
  what makes the driver's DuckDB oracle possible (log10 itself is the
  only 1-ulp surface, handled by the nano rounding).

Reference parity: the reference engine has no LM layer (its text
handling is field mapping, etl.js:127-199); this extends the TEXT-*
family per the training-pipeline mandate.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

#: Stupid Backoff's back-off weight (Brants et al. 2007, §4).
ALPHA = 0.4

#: Per-transition log10 scores are rounded to nano precision and summed
#: as exact BIGINTs; 1e9 keeps |sum| < 2^63 for documents up to ~10^9
#: transitions at the most extreme scores.
_SCALE = 1_000_000_000


class BackoffLM(NamedTuple):
    """A trained Stupid-Backoff bigram model: two count tables and the
    training-token total. ``unigrams``: (w, c_uni); ``bigrams``:
    (w1, w2, c_big). Persist both with ``partitionBy`` on the leading
    word to serve incremental scoring without retraining."""

    unigrams: DataFrame
    bigrams: DataFrame
    n_tokens: DataFrame  # 1 row: (n_train_tokens long)


def _doc_tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_ws")
    )


def train_backoff_lm(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> BackoffLM:
    """Count unigrams and bigrams over the training corpus — the whole
    "training" Stupid Backoff needs. Two aggregations; each shuffle
    carries (gram, count) partials."""
    toks = _doc_tokens(docs, text_col, id_col)
    words = toks.select(F.explode("_ws").alias("w"))
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("c_uni"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, F.greatest(F.size("_ws") - 1, F.lit(0))),
                F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    # N counts the token STREAM, not sum-over-uni: a global count's
    # partial aggregation ships one row per task (no vocab-keyed
    # shuffle), whereas sum(c_uni) re-evaluates the whole unigram
    # aggregation subtree — Spark does not exchange-reuse it under the
    # differing parent aggregates (verified on the executed plan).
    n = words.agg(F.count(F.lit(1)).alias("n_train_tokens"))
    return BackoffLM(unigrams=uni, bigrams=big, n_tokens=n)


def score_stupid_backoff(
    docs: DataFrame,
    lm: BackoffLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = ALPHA,
) -> DataFrame:
    """Score every document with ≥2 tokens against a trained model →
    ``(id_col, n_trans, logp_e9, avg_logp)``.

    ``logp_e9`` is the EXACT scaled sum (BIGINT nano-log10-units) of the
    per-transition scores — the deterministic system of record;
    ``avg_logp`` = ``logp_e9 / 1e9 / n_trans`` (mean log10 transition
    score; higher = more reference-like) derives from it, so it is
    equally order-proof. Perplexity, when wanted, is
    ``10 ** -avg_logp`` — left to the caller to keep ``pow`` (a second
    1-ulp surface) out of the checked output.
    """
    toks = _doc_tokens(docs, text_col, id_col).where(F.size("_ws") >= 2)
    trans = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("_ws"), 1, F.size("_ws") - 1),
                F.slice(F.col("_ws"), 2, F.size("_ws") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p"),
    ).select(id_col, "p.w1", "p.w2")
    u1 = lm.unigrams.withColumnsRenamed({"w": "w1", "c_uni": "c_prev"})
    u2 = lm.unigrams.withColumnsRenamed({"w": "w2", "c_uni": "c_cur"})
    joined = (
        trans.join(lm.bigrams, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(lm.n_tokens))
    )
    # One log10 over one ratio — the identical expression shape the
    # DuckDB oracle states, so the only cross-engine drift is log10's
    # 1 ulp, absorbed by the nano rounding.
    ratio = F.when(
        F.col("c_big").isNotNull(),
        F.col("c_big").cast("double") / F.col("c_prev").cast("double"),
    ).otherwise(
        F.lit(alpha)
        * F.greatest(F.coalesce(F.col("c_cur"), F.lit(0)), F.lit(1)).cast("double")
        / F.col("n_train_tokens").cast("double")
    )
    s_e9 = F.round(F.log10(ratio) * _SCALE).cast("long")
    return (
        joined.select(F.col(id_col), s_e9.alias("_s"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("_s").alias("logp_e9"),
        )
        .withColumn(
            "avg_logp",
            F.col("logp_e9").cast("double") / _SCALE / F.col("n_trans").cast("double"),
        )
    )
