"""WordPiece tokenizer (Schuster & Nakajima 2012; Wu et al. 2016 — the
BERT-family subword scheme): greedy longest-match-first encoding against
a frozen vocabulary. Completes the tokenizer family next to ``bpe.py``
(best-rank-first merge replay) with a different — and crucially
SQL-replayable — encoding algorithm.

- **Encode (distributed)**: greedy longest-match-first against the
  vocabulary (the WordPiece/BERT runtime algorithm — NOT the merge
  replay BPE uses), Arrow-batched ``mapInPandas`` with the vocab
  broadcast and a per-batch word cache. A word with any unmatchable
  position encodes to the single ``[UNK]`` token, per BERT convention.

Conventions: words are ``lower(trim(text))`` split on whitespace (the
family tokenizer); non-initial pieces carry the ``##`` continuation
prefix; the base alphabet (every initial character and every ``##``
continuation character of the corpus the vocabulary was frozen from) is
in the vocabulary, so UNK can only arise from characters outside it.

Oracle note (exploited by the driver): greedy longest-match is a
deterministic single-path walk over (word, position) states, so DuckDB
replays it exactly — a non-recursive CTE precomputes the longest vocab
match per (word, position), and a recursive CTE walks each word left to
right through those matches. No lattice search, no float scores: the
encode is fully SQL-checkable, unlike Viterbi segmentation.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CONT = "##"
UNK = "[UNK]"


def encode_word_greedy(word: str, vocab: set[str]) -> tuple[str, ...]:
    """Greedy longest-match-first segmentation of one word (the
    WordPiece runtime): at each position take the LONGEST vocabulary
    piece matching (##-prefixed past position 0); if none matches, the
    whole word is ``[UNK]``."""
    pieces: list[str] = []
    pos = 0
    n = len(word)
    while pos < n:
        end = n
        found = None
        while end > pos:
            cand = word[pos:end] if pos == 0 else CONT + word[pos:end]
            if cand in vocab:
                found = cand
                break
            end -= 1
        if found is None:
            return (UNK,)
        pieces.append(found)
        pos = end
    return tuple(pieces)


WP_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("wp_text", T.StringType()),
        T.StructField("n_wp_tokens", T.LongType()),
    ]
)


def wordpiece_encode_text(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    parallelism: int | None = None,
) -> DataFrame:
    """Encode documents with a vocabulary → ``(doc_id, wp_text,
    n_wp_tokens)``: ``wp_text`` is the doc's words' :func:`encode_word_greedy`
    pieces joined by single spaces (pieces cannot contain whitespace).
    The vocab set ships once per executor via a Spark broadcast;
    ``parallelism`` pre-repartitions ahead of the CPU-bound Python stage.
    Same text-grain rationale as :func:`.bpe.bpe_encode_text` (guide §2.3/§4): the
    doc crosses the Arrow boundary as ONE lowered/trimmed string each way
    instead of per-token arrays; the whitespace split runs in Python with
    the ASCII class Spark's `split` means by ``\\s``; unicode-sensitive
    lower/trim stay in the JVM; the per-task cache stores the pre-joined
    ``(pieces_text, n_pieces)`` pair per distinct word."""
    import re

    from .bpe import _JAVA_WS

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lower(F.trim(F.col(text_col))).alias("_lt"),
    )
    if parallelism:
        src = src.repartition(parallelism, "doc_id")
    bc = df.sparkSession.sparkContext.broadcast(set(vocab))
    ws = re.compile(_JAVA_WS)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        vset = bc.value
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
                        pieces = encode_word_greedy(w, vset)
                        enc = (" ".join(pieces), len(pieces))
                        cache[w] = enc
                    parts.append(enc[0])
                    n += enc[1]
                out.append((did, " ".join(parts), n))
            yield pd.DataFrame(
                out, columns=["doc_id", "wp_text", "n_wp_tokens"]
            )

    return src.mapInPandas(run, WP_TEXT_SCHEMA)


# Frozen demo vocabulary: WordPiece training (likelihood-scored merges) on
# documents @ sf0.001, 24 merges — frozen as a literal (like
# bpe.DEMO_MERGES) so the driver's DuckDB oracle can replay greedy
# longest-match against a fixed piece table.
DEMO_WP_VOCAB: list[str] = [
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k", "##l",
    "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##u", "##w", "##y",
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p", "q",
    "r", "s", "t", "v", "w", "wi", "li", "qu", "win", "wind", "lin", "th",
    "##sh", "##ch", "fi", "bi", "##in", "big", "ag", "agg", "fil", "##bl",
    "##up", "sp", "##us", "cus", "##lu", "##lum", "##lumn",
]
