"""Byte-pair-encoding tokenizer: an Arrow-batched encoder over a frozen
merge list — the real-subword upgrade over text.py's BPE-ish regex token
ESTIMATE (``bpe_ish_token_count``), for pipelines that need the actual
token stream (packing to context windows, per-token billing, vocab
coverage audits).

- **Encode (distributed)**: Arrow-batched ``mapInPandas``; the merge
  ranks broadcast once per executor; a per-batch word cache exploits the
  Zipf distribution (each distinct word is encoded once per batch).

Conventions: words are ``lower(trim(text))`` split on whitespace (the
family tokenizer); a word's initial symbol sequence is its characters plus
a terminal ``</w>`` marker, so merges never cross word boundaries and the
token stream is unambiguous when space-joined (symbols cannot contain
whitespace).

Encode-equivalence note (exploited by the driver oracle): for a merge
list produced by BPE training, every pair's constituent symbols exist only
via strictly earlier merges, so applying merges IN RANK ORDER, each
exhaustively left-to-right, yields the same symbols as the classic
best-rank-first loop implemented here. That rank-order fold is pure
string rewriting — the DuckDB oracle replays it as nested ``replace()``
calls over a ``\\x1f``-sentinel framing (each symbol wrapped in \\x1f, so
a replace can never match across symbol boundaries).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

END = "</w>"
SEP = "\x1f"  # unit separator: frames symbols in the oracle's string form


def _merge_word(syms: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Merge all non-overlapping occurrences of ``pair``, left to right."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """Classic BPE encode of one word: repeatedly merge the best-ranked
    pair present until none applies."""
    syms: tuple[str, ...] = tuple(word) + (END,)
    while len(syms) > 1:
        ranked = [
            (ranks[p], p)
            for p in set(zip(syms, syms[1:]))
            if p in ranks
        ]
        if not ranked:
            break
        syms = _merge_word(syms, min(ranked)[1])
    return syms


BPE_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bpe_text", T.StringType()),
        T.StructField("n_bpe_tokens", T.LongType()),
    ]
)

#: Java's ``\s`` is the ASCII class [ \t\n\x0B\f\r] (no UNICODE_CHARACTER_CLASS
#: flag in Spark's `split`), unlike Python's unicode-aware ``\s`` — so the
#: Python-side tokenizer in :func:`bpe_encode_text` must spell the class out
#: to match :func:`..operators.text.tokens` exactly (NBSP et al. stay inside
#: tokens on both sides).
_JAVA_WS = "[ \t\n\x0b\x0c\r]+"


def bpe_encode_text(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Encode documents with a merge list → ``(doc_id, bpe_text,
    n_bpe_tokens)``: ``bpe_text`` is the doc's words' :func:`encode_word`
    symbols joined by single spaces (symbols cannot contain whitespace, so
    the joined string is a lossless encoding of the symbol sequence).
    Unknown characters pass through as single-character symbols — BPE
    degrades, never drops. ``parallelism`` repartitions ahead of the
    Python stage so CPU-bound encode spreads independent of file layout.

    The text grain is cheap at the Arrow boundary in BOTH directions
    (guide §2.3/§4 — narrower exchange types, pass only what the Python
    stage needs): the doc ships as ONE lowered/trimmed string instead of
    an array-of-words (one offset vector instead of per-token offsets),
    the merge ranks broadcast once per executor, the whitespace split
    happens in Python (same ASCII ``\\s`` class Spark's `split` uses), and
    one joined string per doc comes back instead of an array of symbol
    strings. Unicode-sensitive lower/trim stay in the JVM so the token
    surface is bit-identical to :func:`..operators.text.tokens`. The
    per-task word cache stores the pre-joined ``(symbols_text, n_symbols)``
    pair, so the per-doc assembly is a str.join over cached strings rather
    than symbol-by-symbol list extends.
    """
    import re

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lower(F.trim(F.col(text_col))).alias("_lt"),
    )
    if parallelism:
        src = src.repartition(parallelism, "doc_id")
    bc = df.sparkSession.sparkContext.broadcast(
        {tuple(p): i for i, p in enumerate(merges)}
    )
    ws = re.compile(_JAVA_WS)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        ranks = bc.value
        cache: dict[str, tuple[str, int]] = {}
        for pdf in batches:
            out = []
            for did, lt in zip(pdf["doc_id"], pdf["_lt"]):
                parts: list[str] = []
                n = 0
                for w in ws.split(lt) if lt else []:
                    if not w:
                        continue
                    enc = cache.get(w)
                    if enc is None:
                        syms = encode_word(w, ranks)
                        enc = (" ".join(syms), len(syms))
                        cache[w] = enc
                    parts.append(enc[0])
                    n += enc[1]
                out.append((did, " ".join(parts), n))
            yield pd.DataFrame(
                out, columns=["doc_id", "bpe_text", "n_bpe_tokens"]
            )

    return src.mapInPandas(run, BPE_TEXT_SCHEMA)


# Frozen demo merge table: BPE training (highest pair count, then the
# lexicographically smallest pair) on documents @ sf0.001, 24 merges —
# frozen as a literal so the driver's DuckDB oracle can replay encoding as
# deterministic string rewriting; tests/test_bpe.py re-derives it with a
# reference trainer.
DEMO_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"), ("t", "</w>"),
    ("er", "</w>"), ("o", "w"), ("ow", "</w>"), ("l", "u"), ("i", "n"),
    ("y", "</w>"), ("a", "r"), ("p", "ar"), ("g", "</w>"), ("a", "s"),
    ("h", "</w>"), ("a", "</w>"), ("s", "t"), ("a", "t"), ("a", "n</w>"),
    ("c", "an</w>"), ("s", "can</w>"), ("c", "o"), ("co", "lu"),
]
