"""Unigram-LM tokenizer (Kudo 2018, arXiv:1804.10959 — the SentencePiece
default): Viterbi encoding against a frozen piece table. The third member
of the tokenizer family: BPE (frequency merges, bpe.py), WordPiece
(greedy longest-match, wordpiece.py), Unigram (probabilistic lattice).

- **Encode (distributed)**: per-word Viterbi (max log-prob
  segmentation) via Arrow-batched ``mapInPandas`` with the (piece →
  logp) dict broadcast and a per-batch word cache.

Determinism: Viterbi ties break toward the LONGER piece ending at the
position (then the DP is unique because earlier positions resolved
deterministically). Characters absent from the piece table encode as
themselves with a floor log-prob — coverage never drops a word.

Oracle note: Viterbi is a max-sum DP with per-state argmax, which a
DuckDB 1.0 recursive CTE cannot express via keyed recursion — but it
CAN carry the DP frontier in the row: the driver oracle advances each
word one character per iteration with the best (cost, segmentation)
for the last max_piece_len positions riding along as a list, argmax'd
by ``list_sort`` on (-cost, -piece_len). With the frozen
``DEMO_UG_PIECES`` (logps rounded to multiples of 2^-20), path costs
are exact doubles in any IEEE engine, so UNIGRAM-ENCODE is checked
FULL-ORACLE (driver_queries/media_history.py:ORACLE_UNIGRAM_ENCODE).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: log-prob floor for characters absent from the piece table (coverage fallback)
UNSEEN_LOGP = -20.0


def viterbi_word(
    word: str, logp: dict[str, float], max_piece_len: int = 8
) -> tuple[str, ...]:
    """Max-log-prob segmentation of one word. Unseen characters fall
    back to themselves at ``UNSEEN_LOGP``. Score ties break toward the
    LONGER piece ending at each position (deterministic)."""
    L = len(word)
    best = [float("-inf")] * (L + 1)
    back = [0] * (L + 1)
    best[0] = 0.0
    for i in range(1, L + 1):
        for k in range(1, min(i, max_piece_len) + 1):
            j = i - k
            piece = word[j:i]
            p = logp.get(piece)
            if p is None and k == 1:
                p = UNSEEN_LOGP
            if p is None or best[j] == float("-inf"):
                continue
            s = best[j] + p
            # strictly-greater keeps the longest k (scanned ascending)
            # only when it strictly wins; ties prefer the longer piece,
            # so use >= for larger k: scan k ascending and accept ties
            if s > best[i] or (s == best[i] and k > i - back[i]):
                best[i] = s
                back[i] = j
    out: list[str] = []
    i = L
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return tuple(reversed(out))


UNIGRAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ug_tokens", T.ArrayType(T.StringType())),
        T.StructField("n_ug_tokens", T.LongType()),
    ]
)


def unigram_encode(
    df: DataFrame,
    pieces: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 8,
    parallelism: int | None = None,
) -> DataFrame:
    """Viterbi-encode documents with a (piece, logp) table →
    ``(doc_id, ug_tokens, n_ug_tokens)``. Arrow-batched ``mapInPandas``;
    the (piece → logp) dict broadcasts once per executor; a per-batch
    word cache collapses the Zipf head (family pattern)."""
    from .text import tokens

    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens(F.lower(F.trim(F.col(text_col)))).alias("_toks"),
    )
    if parallelism:
        src = src.repartition(parallelism, "doc_id")
    bc = df.sparkSession.sparkContext.broadcast(dict(pieces))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        lp = bc.value
        cache: dict[str, tuple[str, ...]] = {}
        for pdf in batches:
            out = []
            for did, toks in zip(pdf["doc_id"], pdf["_toks"]):
                syms: list[str] = []
                for w in toks if toks is not None else []:
                    enc = cache.get(w)
                    if enc is None:
                        enc = viterbi_word(w, lp, max_piece_len)
                        cache[w] = enc
                    syms.extend(enc)
                out.append((did, syms, len(syms)))
            yield pd.DataFrame(
                out, columns=["doc_id", "ug_tokens", "n_ug_tokens"]
            )

    return src.mapInPandas(run, UNIGRAM_SCHEMA)


# A text-grain sibling (split + join inside the Python stage, one string
# per doc across the Arrow boundary — the shape shipped for BPE/WordPiece
# in r12) was A/B'd for this operator and REJECTED on measurement:
# 0.286 -> 0.299 s median over 10 interleaved sf0.1 reps. The
# Viterbi segmentations are piece-dense, so the Python-side string join
# costs more than the per-symbol Arrow offsets it removes.


# Frozen demo vocabulary: Unigram-LM EM training on documents @ sf0.001
# (vocab_size=120, seed_size=200, max_words=2000) with each logp rounded
# to the nearest multiple of 2^-20 — frozen as a literal (like
# bpe.DEMO_MERGES / wordpiece.DEMO_WP_VOCAB) so the driver's DuckDB
# oracle can replay Viterbi EXACTLY: dyadic log-probs make every path
# cost a sum of exact doubles (total significand < 2^53), so scores,
# comparisons, and tie-breaks are bit-identical in any IEEE-754 engine.
DEMO_UG_PIECES: list[tuple[str, float]] = [
    ('a', -3.402557373046875),
    ('able', -101.28251838684082),
    ('ag', -130.01435375213623),
    ('agg', -3.3792009353637695),
    ('alue', -130.50908184051514),
    ('art', -129.92304229736328),
    ('ash', -124.86597442626953),
    ('ast', -130.94361782073975),
    ('ata', -36.2206506729126),
    ('b', -314.0457057952881),
    ('batc', -124.88015937805176),
    ('batch', -3.4253721237182617),
    ('big', -3.44759464263916),
    ('c', -129.99170875549316),
    ('can', -114.1701192855835),
    ('colum', -124.00318145751953),
    ('column', -3.353306770324707),
    ('custo', -131.11566638946533),
    ('custom', -124.77216529846191),
    ('custome', -115.67511081695557),
    ('customer', -3.448719024658203),
    ('d', -6.871520042419434),
    ('dat', -22.46609115600586),
    ('data', -3.440876007080078),
    ('der', -130.326153755188),
    ('e', -118.87199592590332),
    ('ector', -130.5292844772339),
    ('er', -123.63164520263672),
    ('erge', -130.7697238922119),
    ('ey', -130.78626346588135),
    ('f', -130.24828243255615),
    ('fas', -101.27150535583496),
    ('fast', -3.4220800399780273),
    ('filt', -124.74115467071533),
    ('filte', -115.64410018920898),
    ('filter', -3.417708396911621),
    ('g', -129.22037887573242),
    ('ge', -131.06521701812744),
    ('gg', -22.40441608428955),
    ('gro', -36.17570877075195),
    ('grou', -129.9536190032959),
    ('group', -3.3993396759033203),
    ('h', -123.77206802368164),
    ('has', -124.86597442626953),
    ('hash', -3.411187171936035),
    ('i', -337.7401657104492),
    ('ilter', -130.93924617767334),
    ('indow', -120.26102542877197),
    ('ine', -130.78433227539062),
    ('j', -511.3213586807251),
    ('joi', -124.04707527160645),
    ('join', -3.397200584411621),
    ('k', -130.11180782318115),
    ('ke', -130.59422302246094),
    ('key', -3.387631416320801),
    ('l', -130.11688232421875),
    ('lin', -120.24498844146729),
    ('line', -3.3865737915039062),
    ('low', -114.23628520965576),
    ('m', -130.0851697921753),
    ('mall', -114.26157569885254),
    ('mer', -130.39697647094727),
    ('merg', -120.25668525695801),
    ('merge', -3.3982696533203125),
    ('n', -122.91691493988037),
    ('o', -209.33065795898438),
    ('olumn', -130.63828659057617),
    ('or', -129.6349172592163),
    ('ord', -124.67982482910156),
    ('orde', -115.58277034759521),
    ('order', -3.3563785552978516),
    ('ort', -114.18033409118652),
    ('ow', -114.64731121063232),
    ('p', -129.188138961792),
    ('pa', -129.9009485244751),
    ('par', -101.21352767944336),
    ('park', -114.24830055236816),
    ('part', -3.368762969970703),
    ('q', -360.41588592529297),
    ('quer', -130.60593128204346),
    ('query', -3.3993396759033203),
    ('r', -113.7375659942627),
    ('ro', -120.37485599517822),
    ('roup', -130.03449249267578),
    ('row', -3.4749317169189453),
    ('rt', -129.1685962677002),
    ('s', -112.4301528930664),
    ('sca', -123.99706554412842),
    ('scan', -3.3471908569335938),
    ('slo', -120.3190279006958),
    ('slow', -3.413355827331543),
    ('smal', -130.83640480041504),
    ('small', -3.4386463165283203),
    ('so', -129.88960933685303),
    ('sor', -101.20683002471924),
    ('sort', -3.3574047088623047),
    ('spar', -130.8240032196045),
    ('spark', -3.4253721237182617),
    ('strea', -130.78698444366455),
    ('stream', -3.415530204772949),
    ('t', -55.59840679168701),
    ('ta', -48.28609371185303),
    ('tabl', -120.29150867462158),
    ('table', -3.433094024658203),
    ('the', -3.4253721237182617),
    ('tream', -114.23845958709717),
    ('u', -133.01755619049072),
    ('up', -6.871520042419434),
    ('ustomer', -130.73369884490967),
    ('v', -129.82598495483398),
    ('valu', -120.2407693862915),
    ('value', -3.382354736328125),
    ('vect', -130.3723316192627),
    ('vecto', -115.62894916534424),
    ('vector', -3.402557373046875),
    ('w', -118.91658210754395),
    ('wind', -119.22585391998291),
    ('windo', -120.26102542877197),
    ('window', -3.355353355407715),
    ('y', -129.9069128036499),
]
