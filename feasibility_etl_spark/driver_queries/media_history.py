from __future__ import annotations

from ._shared import DataFrame, F, SparkSession, Window, cosine_topk_lsh, image_features, incremental_near_dups, ivf_topk, ivfpq_topk, load, minhash_index, near_dup_pairs, pq_topk, quality_score, resize_images, simhash_candidates, winnow_fingerprints_arrow
from .similarity_text import _QUALITY_SQL_FRAGMENTS
from .pipelines_joins import ORACLE_MM_AUDIO, ORACLE_MM_IMAGE, ORACLE_MM_RESIZE, ORACLE_TEXT_WINNOW, _media, q_mm_audio



def q_mm_visual(spark: SparkSession, sf: str) -> DataFrame:
    """MM-VISUAL: the image-payload pipeline — covers MM-IMAGE (decode +
    feature extraction: n_bytes/sha256/width/height/mean_luma/decoder) and
    MM-RESIZE (r_width/r_height/r_format through the resize Pandas stage)."""
    media = _media(spark, sf)
    img = image_features(media)
    resized = resize_images(media, width=64, height=48).select(
        "media_id",
        F.col("metadata")["width"].alias("r_width"),
        F.col("metadata")["height"].alias("r_height"),
        F.col("metadata")["format"].alias("r_format"),
    )
    return img.join(resized, "media_id")


ORACLE_MM_VISUAL = f"""
WITH i AS ({ORACLE_MM_IMAGE}), r AS ({ORACLE_MM_RESIZE})
SELECT i.media_id, i.n_bytes, i.sha256, i.width, i.height, i.mean_luma,
       i.decoder, r.width AS r_width, r.height AS r_height,
       r.format AS r_format
FROM i JOIN r ON i.media_id = r.media_id
"""


def q_mm_media(spark: SparkSession, sf: str) -> DataFrame:
    """MM-VISUAL ∪ MM-AUDIO: the image and audio feature pipelines share
    the media grain (disjoint doc_id%3 slices), so one union-tagged driver
    entry verifies both; columns the other modality doesn't produce are
    typed NULLs."""
    vis = q_mm_visual(spark, sf).select(
        F.lit("visual").alias("part"),
        "media_id", "n_bytes", "sha256", "decoder",
        "width", "height", "mean_luma", "r_width", "r_height", "r_format",
        F.lit(None).cast("double").alias("duration_s"),
        F.lit(None).cast("double").alias("rms_pseudo"),
    )
    aud = q_mm_audio(spark, sf).select(
        F.lit("audio").alias("part"),
        "media_id", "n_bytes", "sha256", "decoder",
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("double").alias("mean_luma"),
        F.lit(None).cast("int").alias("r_width"),
        F.lit(None).cast("int").alias("r_height"),
        F.lit(None).cast("string").alias("r_format"),
        "duration_s", "rms_pseudo",
    )
    return vis.unionByName(aud)


ORACLE_MM_MEDIA = f"""
SELECT 'visual' AS part, media_id, n_bytes, sha256, decoder,
       width, height, mean_luma, r_width, r_height, r_format,
       CAST(NULL AS DOUBLE) AS duration_s, CAST(NULL AS DOUBLE) AS rms_pseudo
FROM ({ORACLE_MM_VISUAL})
UNION ALL
SELECT 'audio' AS part, media_id, n_bytes, sha256, decoder,
       CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
       CAST(NULL AS DOUBLE) AS mean_luma, CAST(NULL AS INTEGER) AS r_width,
       CAST(NULL AS INTEGER) AS r_height, CAST(NULL AS VARCHAR) AS r_format,
       duration_s, rms_pseudo
FROM ({ORACLE_MM_AUDIO})
"""


def q_dedup_verify(spark: SparkSession, sf: str) -> DataFrame:
    """DEDUP-VERIFY: the exact-Jaccard VERIFY stage of the MinHash family
    (operators.dedup.verify_pairs — the same code path near_dup_pairs
    runs on LSH candidates) exercised on a DETERMINISTIC candidate set:
    every consecutive doc-id pair. This splits DEDUP-CANDIDATES' trust
    surface per the round-3 verdict: candidate GENERATION stays rows-only
    (seeded xxhash64 banding has no SQL twin), the verify math — shingle
    construction, set-Jaccard, thresholding — is full-oracle here
    (DuckDB rebuilds the 3-gram shingle sets with list_transform and the
    same <3-token whole-text rule). Jaccard is a ratio of exact ints →
    bit-identical doubles, no rounding needed."""
    from ..operators.dedup import verify_pairs

    docs = load(spark, sf, "documents")
    ids = docs.select("doc_id")
    cands = ids.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).join(ids.select(F.col("doc_id").alias("id_b")), "id_b")
    return verify_pairs(cands, docs, threshold=None).select(
        "id_a", "id_b", "jaccard", (F.col("jaccard") >= 0.5).alias("is_near_dup")
    )


ORACLE_DEDUP_VERIFY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
              ELSE list_transform(generate_series(1, len(t) - 2),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         END AS s
  FROM toks
), cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
), scored AS (
  SELECT c.id_a, c.id_b,
         CASE WHEN len(list_distinct(sa.s || sb.s)) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / CAST(len(list_distinct(sa.s || sb.s)) AS DOUBLE) END AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard, jaccard >= 0.5 AS is_near_dup FROM scored
"""


def q_dedup_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """DEDUP-CANDIDATES: hash-banded near-dup candidate pairs union-tagged —
    covers DEDUP-MINHASH (MinHash+LSH, with verified Jaccard), DEDUP-SIMHASH
    (banded SimHash), and DEDUP-INCR (method='incremental': the even-id half
    indexed via minhash_index, the odd-id increment served against it with
    signature-estimated Jaccard — the daily-drop path that never recomputes
    the corpus; candidate-set parity with batch LSH pinned in
    tests/test_dedup.py). Rows-only by design for the GENERATION stage:
    xxhash64 signatures have no DuckDB twin; the verify stage is
    full-oracle via DEDUP-VERIFY, and Jaccard/recall are pinned in tests."""
    docs = load(spark, sf, "documents")
    mh = near_dup_pairs(docs, threshold=0.5).select(
        F.lit("minhash").alias("method"), "id_a", "id_b",
        F.col("jaccard").alias("score"),
    )
    sh = simhash_candidates(docs).select(
        F.lit("simhash").alias("method"), "id_a", "id_b",
        F.lit(None).cast("double").alias("score"),
    )
    # small_increment=False: half-corpus increment (backfill shape) — the
    # micro-batch broadcast hints OOM past ~100k docs; AQE still
    # broadcasts at runtime when small (PERF-NOTES 44)
    inc = incremental_near_dups(
        docs.where("doc_id % 2 = 1"),
        minhash_index(docs.where("doc_id % 2 = 0")),
        threshold=0.5,
        small_increment=False,
    ).select(
        F.lit("incremental").alias("method"), "id_a", "id_b",
        F.col("est_jaccard").alias("score"),
    )
    return mh.unionByName(sh).unionByName(inc).orderBy("method", "id_a", "id_b")


def q_sim_ann(spark: SparkSession, sf: str) -> DataFrame:
    """SIM-ANN: the approximate-nearest-neighbor tier union-tagged — covers
    SIM-LSH (hyperplane buckets + multiprobe), SIM-IVF (k-means cells +
    nprobe), SIM-PQ (product-quantization ADC + exact re-rank), and
    SIM-IVFPQ (fused coarse cells + residual PQ codes — the production
    serving shape), and SIM-IVFBQ (coarse cells + 1-bit Hamming shortlist
    + exact re-rank — the codebook-free memory-light tier). Rows-only by
    design (seeded hyperplanes / iterative
    k-means have no SQL twin); recall vs the SIM-TOPK exact baseline pinned
    in tests."""
    emb = load(spark, sf, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # round-7 serving defaults: every tier >=0.5 recall@10 on the bench
    # corpus at its documented scan budget (bench.run_ann_curve publishes
    # the recall-vs-scan-bytes trade; floors in bench.ANN_RECALL_FLOORS)
    lsh = cosine_topk_lsh(emb, queries, k=10, dim=64, n_planes=8, multiprobe=3)
    ivf = ivf_topk(
        emb, queries, k=10, n_cells=16, nprobe=6, train_fraction=0.5, max_iter=8
    )
    pq = pq_topk(
        emb, queries, k=10, n_subspaces=8, n_codes=16,
        train_fraction=0.5, max_iter=4, refine=16,
    )
    ivfpq = ivfpq_topk(
        emb, queries, k=10, n_cells=16, nprobe=8, n_subspaces=8, n_codes=16,
        train_fraction=0.5, max_iter=4, refine=32,
    )
    from ..operators.similarity import bq_rerank_topk, ivfbq_topk

    ivfbq = ivfbq_topk(
        emb, queries, k=10, n_cells=16, nprobe=8, shortlist=120,
        train_fraction=0.5, max_iter=8,
    )
    bqrr = bq_rerank_topk(emb, queries, k=10, refine=8)
    parts = [
        df.select(
            F.lit(method).alias("method"), "query_id", "vec_id", "cos_sim",
            F.col("rank").cast("long").alias("rank"),
        )
        for method, df in (
            ("bqrr", bqrr), ("lsh", lsh), ("ivf", ivf), ("pq", pq),
            ("ivfpq", ivfpq), ("ivfbq", ivfbq),
        )
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method", "query_id", "rank")


def q_scd2_apply(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2-APPLY: the dimension-maintenance writers union-tagged —
    part='scd2': bootstrap an SCD2 history from the events log (each
    user's event_type stream becomes validity intervals; a new version
    opens when the type differs null-safely from the previous one; last
    version per key is open/current; oracle: lag-filter + lead windows;
    version_sk (xxhash64) excluded — no DuckDB twin; pinned in
    tests/test_scd2.py). part='scd1': MERGE-INTO upsert (SCD1-MERGE) —
    current state from even event_ids, change batch from odd ones
    (purchase = delete), latest change per key wins."""
    from ..writer.merge import merge_upsert
    from ..writer.scd2 import scd2_apply

    ev = load(spark, sf, "events")
    hist = scd2_apply(
        ev.select("user_id", "event_type", "ts"), "user_id", ["event_type"], ts_col="ts"
    )
    scd2 = hist.select(
        F.lit("scd2").alias("part"),
        "user_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("valid_to"),
        "is_current",
    )
    w_cur = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    current = (
        ev.where(F.col("event_id") % 2 == 0)
        .withColumn("_rn", F.row_number().over(w_cur))
        .where("_rn = 1")
        .select("user_id", "event_type")
    )
    changes = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", "event_type", "ts", "event_id",
        (F.col("event_type") == "purchase").alias("_del"),
    )
    merged = merge_upsert(
        current, changes, "user_id", order_cols=["ts", "event_id"], delete_col="_del"
    )
    scd1 = merged.select(
        F.lit("scd1").alias("part"),
        "user_id",
        "event_type",
        F.lit(None).cast("string").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(None).cast("boolean").alias("is_current"),
    )
    return scd2.unionByName(scd1)


ORACLE_SCD2_APPLY = """
WITH dedup AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_type ASC NULLS FIRST) AS rn
  FROM events
), d AS (
  SELECT user_id, event_type, ts FROM dedup WHERE rn = 1
), changed AS (
  SELECT user_id, event_type, ts FROM (
    SELECT user_id, event_type, ts,
           lag(event_type) OVER w AS prev_type,
           (row_number() OVER w = 1) AS is_first
    FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  ) WHERE is_first OR event_type IS DISTINCT FROM prev_type
)
SELECT 'scd2' AS part, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM changed WINDOW w AS (PARTITION BY user_id ORDER BY ts)
UNION ALL
SELECT 'scd1' AS part, user_id, event_type,
       CAST(NULL AS VARCHAR) AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
       CAST(NULL AS BOOLEAN) AS is_current
FROM (
  WITH cur AS (
    SELECT user_id, event_type FROM (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_id % 2 = 0
    ) WHERE rn = 1
  ), ch AS (
    SELECT user_id, event_type, (event_type = 'purchase') AS dead FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_id % 2 = 1
    ) WHERE rn = 1
  )
  SELECT COALESCE(ch.user_id, cur.user_id) AS user_id,
         CASE WHEN ch.user_id IS NOT NULL THEN ch.event_type
              ELSE cur.event_type END AS event_type
  FROM cur FULL OUTER JOIN ch ON cur.user_id = ch.user_id
  WHERE ch.user_id IS NULL OR NOT ch.dead
)
"""


def q_e_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """E-QUANTILE: relative quality gate — keep documents at/above the
    per-language median quality score (exact percentile, broadcast
    threshold join; the data never shuffles, only its per-key summary
    does). Oracle: quantile_cont (same linear interpolation as Spark's
    exact percentile)."""
    from ..quality.gates import filter_by_quantile

    docs = load(spark, sf, "documents")
    scored = docs.select("doc_id", "lang", quality_score("text").alias("quality"))
    return filter_by_quantile(scored, "quality", 0.5, keys=["lang"])


ORACLE_E_QUANTILE = (
    "WITH "
    + _QUALITY_SQL_FRAGMENTS
    + """
, qual AS (
  SELECT doc_id,
         LEAST(n_tok / 200.0, 1.0) * 0.4
           + (1.0 - LEAST(punct_ratio * 4.0, 1.0)) * 0.3
           + LEAST(stop_ratio * 4.0, 1.0) * 0.3 AS quality
  FROM sig
), j AS (
  SELECT d.doc_id, d.lang, q.quality
  FROM documents d JOIN qual q USING (doc_id)
), thr AS (
  SELECT lang, quantile_cont(quality, 0.5) AS t FROM j GROUP BY lang
)
SELECT j.doc_id, j.lang, j.quality
FROM j JOIN thr USING (lang) WHERE j.quality >= thr.t
"""
)


def q_text_chunk(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-CHUNK: context-window chunking (32-token windows, 8-token
    overlap) — fully relational posexplode over chunk starts; tail windows
    that add no new tokens are dropped."""
    from ..operators.text import chunk_documents

    return chunk_documents(load(spark, sf, "documents"), chunk_tokens=32, overlap=8)


ORACLE_TEXT_CHUNK = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
), ex AS (
  SELECT doc_id, len(t) AS n, t, gs.s AS start
  FROM toks, LATERAL (
    SELECT unnest(generate_series(0, greatest(len(t) - 1, 0), 24)) AS s
  ) gs
)
SELECT doc_id,
       CAST(start / 24 AS BIGINT) AS chunk_id,
       array_to_string(list_slice(t, start + 1, start + 32), ' ') AS chunk_text,
       CAST(LEAST(32, n - start) AS BIGINT) AS n_tok
FROM ex
WHERE start < n AND (start = 0 OR start + 8 < n)
"""


def _bpe_frame_sql(word_expr: str) -> str:
    """SQL framing of a word's initial BPE symbols: every character wrapped
    in \\x1f sentinels, terminal ``</w>`` appended as its own symbol."""
    sep = "\x1f"
    return (
        f"'{sep}' || array_to_string(list_transform(range(1, len({word_expr}) + 1), "
        f"j -> {word_expr}[CAST(j AS INT)]), '{sep}{sep}') || '{sep}{sep}</w>{sep}'"
    )


def _bpe_replace_chain(expr: str) -> str:
    """Nested ``replace()`` chain applying DEMO_MERGES in rank order over
    the sentinel framing — for a TRAINED merge list this equals the classic
    best-rank-first BPE loop (see operators/bpe.py's equivalence note)."""
    from ..operators.bpe import DEMO_MERGES

    sep = "\x1f"
    for left, right in DEMO_MERGES:
        expr = (
            f"replace({expr}, '{sep}{left}{sep}{sep}{right}{sep}', "
            f"'{sep}{left}{right}{sep}')"
        )
    return expr


ORACLE_BPE_ENCODE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents WHERE trim(text) <> ''
), enc AS (
  SELECT doc_id, u.i AS pos,
         {_bpe_replace_chain(_bpe_frame_sql("t[CAST(u.i AS INT)]"))} AS e
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
)
SELECT doc_id,
       string_agg(replace(trim(e, '\x1f'), '\x1f\x1f', ' '), ' ' ORDER BY pos)
         AS bpe_text,
       CAST(SUM(len(string_split(e, '\x1f\x1f'))) AS BIGINT) AS n_tok
FROM enc GROUP BY doc_id
"""


def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ENCODE (granular singleton): real byte-pair encoding of the
    corpus with the frozen DEMO_MERGES table (operators/bpe.py) — the
    Arrow-batched mapInPandas encoder, checked FULL-ORACLE: DuckDB replays
    the encode as rank-order string rewriting over a sentinel framing,
    which for a trained merge list provably equals the classic
    best-rank-first loop the operator runs. Served by the text-grain
    encoder (bpe_encode_text, r12): bpe_text is produced as ONE string
    per doc inside the Python stage — row-identical to
    array_join(bpe_tokens, ' ') (symbols cannot contain whitespace),
    cheaper across the Arrow boundary in both directions."""
    from ..operators.bpe import DEMO_MERGES, bpe_encode_text

    docs = load(spark, sf, "documents").where(F.trim("text") != "")
    return bpe_encode_text(docs, DEMO_MERGES).select(
        "doc_id",
        "bpe_text",
        F.col("n_bpe_tokens").alias("n_tok"),
    )


def _wp_vocab_values() -> str:
    from ..operators.wordpiece import DEMO_WP_VOCAB

    return ", ".join("('" + p.replace("'", "''") + "')" for p in DEMO_WP_VOCAB)


# WP-ENCODE oracle: greedy longest-match is a deterministic SINGLE-PATH
# walk over (word, position) states, so SQL can replay it exactly — a
# non-recursive stage precomputes the longest vocab match per (word,
# position) (`best`), and the recursive `walk` steps each distinct word
# through those matches, accreting the ##-rendered piece string. A
# position with no match turns the whole word into [UNK] (BERT
# convention). Verified piece-for-piece against the operator on the full
# corpus before freezing.
ORACLE_WP_ENCODE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents WHERE trim(text) <> ''
), stream AS (
  SELECT doc_id, u.i AS pos, t[CAST(u.i AS INT)] AS w
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
), words AS (
  SELECT DISTINCT w FROM stream
), vp AS (
  SELECT CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS body,
         (piece LIKE '##%') AS cont
  FROM (VALUES {_wp_vocab_values()}) v(piece)
), wpos AS (
  SELECT words.w AS w, p.cpos AS cpos
  FROM words, unnest(range(0, len(words.w))) p(cpos)
), best AS (
  SELECT wpos.w, wpos.cpos, MAX(len(vp.body)) AS blen
  FROM wpos JOIN vp
    ON vp.cont = (wpos.cpos > 0)
   AND vp.body = substr(wpos.w, CAST(wpos.cpos + 1 AS INT), len(vp.body))
  GROUP BY 1, 2
), walk AS (
  SELECT w, CAST(0 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS seg, false AS unk
  FROM words
  UNION ALL
  SELECT s.w,
         CASE WHEN b.blen IS NULL THEN CAST(len(s.w) AS BIGINT)
              ELSE s.pos + b.blen END,
         CASE WHEN b.blen IS NULL THEN s.seg
              ELSE s.seg || CASE WHEN s.pos > 0 THEN ' ##' ELSE '' END
                   || substr(s.w, CAST(s.pos + 1 AS INT), CAST(b.blen AS INT)) END,
         (b.blen IS NULL)
  FROM walk s LEFT JOIN best b ON b.w = s.w AND b.cpos = s.pos
  WHERE s.pos < len(s.w) AND NOT s.unk
), seg AS (
  SELECT w, CASE WHEN unk THEN '[UNK]' ELSE seg END AS seg,
         CASE WHEN unk THEN 1 ELSE len(string_split(seg, ' ')) END AS npieces
  FROM walk WHERE pos >= len(w)
)
SELECT s.doc_id,
       string_agg(g.seg, ' ' ORDER BY s.pos) AS wp_text,
       CAST(SUM(g.npieces) AS BIGINT) AS n_tok
FROM stream s JOIN seg g ON g.w = s.w
GROUP BY s.doc_id
"""


def q_wp_encode(spark: SparkSession, sf: str) -> DataFrame:
    """WP-ENCODE (granular singleton): WordPiece greedy longest-match
    encoding with the frozen DEMO_WP_VOCAB (operators/wordpiece.py) —
    Arrow-batched mapInPandas, checked FULL-ORACLE: greedy matching is a
    single-path walk, so DuckDB replays it with a precomputed
    longest-match table + a recursive walk (see ORACLE_WP_ENCODE).
    Served at the text grain (wordpiece_encode_text, r12): wp_text is
    joined inside the Python stage, row-identical to
    array_join(wp_tokens, ' ')."""
    from ..operators.wordpiece import DEMO_WP_VOCAB, wordpiece_encode_text

    docs = load(spark, sf, "documents").where(F.trim("text") != "")
    return wordpiece_encode_text(docs, DEMO_WP_VOCAB).select(
        "doc_id",
        "wp_text",
        F.col("n_wp_tokens").alias("n_tok"),
    )


def _ug_vocab_values() -> str:
    from ..operators.unigram import DEMO_UG_PIECES

    return ", ".join(
        "('" + p.replace("'", "''") + f"', {lp!r})" for p, lp in DEMO_UG_PIECES
    )


def _ug_maxlen() -> int:
    from ..operators.unigram import DEMO_UG_PIECES

    return max(len(p) for p, _ in DEMO_UG_PIECES)


def _ug_unseen() -> float:
    from ..operators.unigram import UNSEEN_LOGP

    return UNSEEN_LOGP


# UNIGRAM-ENCODE oracle: Viterbi max-sum DP replayed EXACTLY in a
# recursive CTE. The standard objection — per-state argmax needs keyed
# recursion — is sidestepped by carrying the DP frontier IN THE ROW:
# each word advances one character position per iteration, and the row
# carries the best (cost, segmentation) for the last MAXLEN positions
# (the only ones a piece can reach back to). A non-recursive `cl` stage
# precomputes, per (word, position), the list of candidate steps
# (piece length k, piece string, logp — with the k=1 unseen-char floor),
# so the recursive term is one join + a list_sort argmax: sort by
# (-cost, -k) replays the operator's tie-break toward the LONGER piece.
# Exactness: DEMO_UG_PIECES logps are dyadic (multiples of 2^-20), so
# every path cost is an exact double in any IEEE engine — scores,
# comparisons, and ties are bit-identical, never approximately so.
# Verified piece-for-piece against the pure-Python viterbi_word on the
# full sf0.01 corpus before freezing.
def _oracle_unigram_encode() -> str:
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents WHERE trim(text) <> ''
), stream AS (
  SELECT doc_id, u.i AS pos, t[CAST(u.i AS INT)] AS w
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
), words AS (
  SELECT DISTINCT w FROM stream
), vp AS (
  SELECT * FROM (VALUES {_ug_vocab_values()}) v(piece, lp)
), cand AS (
  SELECT c.w, c.i, c.k, c.piece,
         COALESCE(vp.lp,
                  CASE WHEN c.k = 1 THEN CAST({_ug_unseen()!r} AS DOUBLE) END
         ) AS lp
  FROM (
    SELECT words.w, p.i, k.k,
           substr(words.w, CAST(p.i - k.k + 1 AS INT), CAST(k.k AS INT)) AS piece
    FROM words,
         unnest(range(1, len(words.w) + 1)) p(i),
         unnest(range(1, {_ug_maxlen()} + 1)) k(k)
    WHERE k.k <= p.i
  ) c LEFT JOIN vp ON vp.piece = c.piece
), cl AS (
  SELECT w, i, list(struct_pack(k := k, piece := piece, lp := lp)) AS steps
  FROM cand WHERE lp IS NOT NULL GROUP BY w, i
), walk AS (
  SELECT w, CAST(0 AS BIGINT) AS i,
         [struct_pack(cost := CAST(0.0 AS DOUBLE), seg := CAST('' AS VARCHAR))]
           AS win
  FROM words
  UNION ALL
  SELECT q.w, q.i,
         ([struct_pack(cost := -q.best.negc, seg := q.best.seg)]
          || q.win)[1:{_ug_maxlen()}] AS win
  FROM (
    SELECT s.w AS w, s.i + 1 AS i, s.win AS win,
           list_sort(list_transform(c.steps, t -> struct_pack(
              negc := -(s.win[CAST(t.k AS INT)].cost + t.lp),
              negk := -t.k,
              seg := CASE WHEN s.win[CAST(t.k AS INT)].seg = ''
                          THEN t.piece
                          ELSE s.win[CAST(t.k AS INT)].seg || ' ' || t.piece
                     END)))[1] AS best
    FROM walk s JOIN cl c ON c.w = s.w AND c.i = s.i + 1
    WHERE s.i < len(s.w)
  ) q
), seg AS (
  SELECT w, win[1].seg AS seg, len(string_split(win[1].seg, ' ')) AS npieces
  FROM walk WHERE i = len(w)
)
SELECT s.doc_id,
       string_agg(g.seg, ' ' ORDER BY s.pos) AS ug_text,
       CAST(SUM(g.npieces) AS BIGINT) AS n_tok
FROM stream s JOIN seg g ON g.w = s.w
GROUP BY s.doc_id
"""


ORACLE_UNIGRAM_ENCODE = _oracle_unigram_encode()


def q_unigram_encode(spark: SparkSession, sf: str) -> DataFrame:
    """UNIGRAM-ENCODE (granular singleton): Unigram-LM Viterbi encoding
    (operators/unigram.py, Kudo 2018) with the frozen DEMO_UG_PIECES
    vocabulary (dyadic logps), checked FULL-ORACLE: DuckDB replays the
    Viterbi DP with a windowed-frontier recursive CTE (see
    ORACLE_UNIGRAM_ENCODE — the frontier rides in the row, so no keyed
    recursion is needed). NOTE (r12 session-7): the text-grain
    serving rewrite applied to BPE-ENCODE/WP-ENCODE was A/B'd here too
    and REJECTED on measurement — ug_old 0.286 vs ug_new 0.299 s median
    over 10 interleaved sf0.1 reps; the
    Viterbi segmentations are piece-dense enough that the Python-side
    join loses what the Arrow boundary saves."""
    from ..operators.unigram import DEMO_UG_PIECES, unigram_encode

    docs = load(spark, sf, "documents").where(F.trim("text") != "")
    return unigram_encode(docs, DEMO_UG_PIECES).select(
        "doc_id",
        F.array_join("ug_tokens", " ").alias("ug_text"),
        F.col("n_ug_tokens").alias("n_tok"),
    )


def q_compress_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """COMPRESS-RATIO (granular singleton, rows-only by documented
    design): per-doc DEFLATE compressibility signals
    (operators/compressibility.py) — no engine-neutral oracle exists
    (neither Spark SQL nor DuckDB exposes DEFLATE), so the driver
    records rows-only and tests/test_text.py pins exact parity against
    the interpreter's own zlib plus the template-vs-prose ordering."""
    from ..operators.compressibility import compression_signals

    return compression_signals(load(spark, sf, "documents")).orderBy("doc_id")


def q_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """LM-SCORE granular: Stupid-Backoff bigram LM quality scoring
    (operators/lm.py, Brants et al. 2007) — train on the even-doc_id half
    of the corpus, score every doc with ≥2 tokens, so the odd half
    genuinely exercises the backoff and OOV paths. ``logp_e9`` is the
    exact BIGINT nano-log10 sum (float-order-proof), ``avg_logp`` derives
    from it; both hash-match the DuckDB twin (log10's 1 ulp absorbed by
    the nano rounding)."""
    from ..operators.lm import score_stupid_backoff, train_backoff_lm

    docs = load(spark, sf, "documents")
    lm = train_backoff_lm(docs.where(F.col("doc_id") % 2 == 0))
    return score_stupid_backoff(docs, lm)


ORACLE_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS ws
  FROM documents
),
train AS (SELECT ws FROM toks WHERE doc_id % 2 = 0),
uni AS (
  SELECT w, COUNT(*) AS c_uni
  FROM (SELECT unnest(ws) AS w FROM train) GROUP BY w
),
tot AS (SELECT COUNT(*) AS n FROM (SELECT unnest(ws) AS w FROM train)),
big AS (
  SELECT w1, w2, COUNT(*) AS c_big FROM (
    SELECT ws[x+1] AS w1, ws[x+2] AS w2
    FROM train, LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
  ) GROUP BY w1, w2
),
trans AS (
  SELECT doc_id, ws[x+1] AS w1, ws[x+2] AS w2
  FROM toks, LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
  WHERE len(ws) >= 2
),
scored AS (
  SELECT t.doc_id,
    CAST(round(log10(
      CASE WHEN b.c_big IS NOT NULL
           THEN CAST(b.c_big AS DOUBLE) / CAST(u1.c_uni AS DOUBLE)
           ELSE 0.4 * CAST(GREATEST(coalesce(u2.c_uni, 0), 1) AS DOUBLE)
                / CAST(tot.n AS DOUBLE)
      END) * 1000000000) AS BIGINT) AS s
  FROM trans t
  LEFT JOIN big b ON t.w1 = b.w1 AND t.w2 = b.w2
  LEFT JOIN uni u1 ON t.w1 = u1.w
  LEFT JOIN uni u2 ON t.w2 = u2.w
  CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_trans, CAST(SUM(s) AS BIGINT) AS logp_e9,
       CAST(SUM(s) AS DOUBLE) / 1000000000 / CAST(COUNT(*) AS DOUBLE) AS avg_logp
FROM scored GROUP BY doc_id
"""


def q_cls_score(spark: SparkSession, sf: str) -> DataFrame:
    """CLS-SCORE granular: hashed-n-gram linear quality/domain classifier
    (operators/classifier.py — fastText-shaped features, NBSVM
    log-count-ratio training) — train ``lang='en'`` vs rest on the
    even-doc_id half, score EVERY document, so the odd half genuinely
    exercises unseen-bucket (default-weight) scoring. Full oracle: the
    md5-prefix feature hash, the Laplace log-ratio weights (nano-BIGINT
    at the ln surface), and the exact integer logit fold are all replayed
    in DuckDB. ``pred`` is the 0-threshold decision; real gating composes
    the logit with the KLL quantile gate (QUALITY-KLLGATE) instead of a
    fixed cut."""
    from ..operators.classifier import classifier_score, train_log_odds
    from ..plans.compose import StageCache, release_when_unreachable

    docs = load(spark, sf, "documents").select("doc_id", "text", "lang")
    shared = StageCache()
    model = train_log_odds(
        docs.where(F.col("doc_id") % 2 == 0).withColumn(
            "lab", (F.col("lang") == "en").cast("int")
        ),
        "lab",
        cache=shared,
    )
    out = classifier_score(docs, model).select(
        "doc_id", "n_feat", "logit_e9", "pred"
    )
    return release_when_unreachable(out, shared)


ORACLE_CLS_SCORE = r"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS lab,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
fb AS (
  SELECT doc_id, lab,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, lab, unnest(ws) AS f FROM toks
    UNION ALL
    SELECT doc_id, lab, ws[x+1] || ' ' || ws[x+2] AS f
    FROM toks, LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
  )
),
counts AS (
  SELECT bucket,
         SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS pos_c,
         SUM(CASE WHEN lab THEN 0 ELSE 1 END) AS neg_c
  FROM fb WHERE doc_id % 2 = 0 GROUP BY bucket
),
tot AS (
  SELECT coalesce(SUM(pos_c), 0) AS pos_tot,
         coalesce(SUM(neg_c), 0) AS neg_tot
  FROM counts
),
dtot AS (
  SELECT SUM(CASE WHEN lab THEN 1 ELSE 0 END) AS n_pos,
         SUM(CASE WHEN lab THEN 0 ELSE 1 END) AS n_neg
  FROM toks WHERE doc_id % 2 = 0
),
wts AS (
  SELECT bucket,
         CAST(round((ln((pos_c + 1.0) / (pos_tot + 4096.0))
                   - ln((neg_c + 1.0) / (neg_tot + 4096.0)))
                    * 1000000000) AS BIGINT) AS w_e9
  FROM counts, tot
),
consts AS (
  SELECT CAST(round(ln((n_pos + 1.0) / (n_neg + 1.0))
                    * 1000000000) AS BIGINT) AS bias_e9,
         CAST(round((ln(1.0 / (pos_tot + 4096.0))
                   - ln(1.0 / (neg_tot + 4096.0)))
                    * 1000000000) AS BIGINT) AS w_default_e9
  FROM tot, dtot
),
per_doc AS (
  SELECT fb.doc_id,
         COUNT(*) AS n_feat,
         coalesce(SUM(w.w_e9), 0) AS s_known,
         SUM(CASE WHEN w.w_e9 IS NULL THEN 1 ELSE 0 END) AS n_miss
  FROM fb LEFT JOIN wts w USING (bucket)
  GROUP BY fb.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(p.n_feat, 0) AS BIGINT) AS n_feat,
       CAST(coalesce(p.s_known, 0) + coalesce(p.n_miss, 0) * c.w_default_e9
            + c.bias_e9 AS BIGINT) AS logit_e9,
       (coalesce(p.s_known, 0) + coalesce(p.n_miss, 0) * c.w_default_e9
        + c.bias_e9) >= 0 AS pred
FROM toks t LEFT JOIN per_doc p USING (doc_id) CROSS JOIN consts c
"""


def q_cls_route(spark: SparkSession, sf: str) -> DataFrame:
    """CLS-ROUTE granular: k-class one-vs-rest domain router
    (operators/classifier.py train_router/route_score) — train on the
    even-doc_id half with ``lang`` as the class, route EVERY document to
    its argmax class with the winner-minus-runner-up margin. Full
    oracle: the shared (bucket, class) count table, per-class
    complements, dense-grid weights, and the argmax/lead window are all
    replayed in DuckDB over the same md5-prefix hash space."""
    from ..operators.classifier import route_score, train_router
    from ..plans.compose import StageCache, release_when_unreachable

    docs = load(spark, sf, "documents").select("doc_id", "text", "lang")
    shared = StageCache()
    router = train_router(
        docs.where(F.col("doc_id") % 2 == 0), "lang", cache=shared
    )
    out = route_score(docs, router)
    return release_when_unreachable(out, shared)


ORACLE_CLS_ROUTE = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS ws
  FROM documents
),
fb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, lang, unnest(ws) AS f FROM toks
    UNION ALL
    SELECT doc_id, lang, ws[x+1] || ' ' || ws[x+2] AS f
    FROM toks, LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
  )
),
cnt AS (
  SELECT bucket, lang AS cls, COUNT(*) AS c FROM fb
  WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY bucket, lang
),
btot AS (SELECT bucket, SUM(c) AS bt FROM cnt GROUP BY bucket),
ctot AS (SELECT cls, SUM(c) AS tc FROM cnt GROUP BY cls),
allt AS (SELECT coalesce(SUM(c), 0) AS al FROM cnt),
classes AS (
  SELECT lang AS cls, COUNT(*) AS n_c FROM documents
  WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY lang
),
nall AS (
  SELECT COUNT(*) AS n_all FROM documents
  WHERE doc_id % 2 = 0 AND lang IS NOT NULL
),
clsx AS (
  SELECT c.cls, coalesce(t.tc, 0) AS tc, c.n_c, a.al, n.n_all
  FROM classes c LEFT JOIN ctot t USING (cls)
  CROSS JOIN allt a CROSS JOIN nall n
),
consts AS (
  SELECT cls,
         CAST(round(ln((n_c + 1.0) / (n_all - n_c + 1.0))
                    * 1000000000) AS BIGINT) AS bias_e9,
         CAST(round((ln(1.0 / (tc + 4096.0))
                   - ln(1.0 / (al - tc + 4096.0)))
                    * 1000000000) AS BIGINT) AS w_def_e9
  FROM clsx
),
dense AS (
  SELECT b.bucket, x.cls,
         CAST(round((ln((coalesce(cn.c, 0) + 1.0) / (x.tc + 4096.0))
                   - ln((b.bt - coalesce(cn.c, 0) + 1.0)
                        / (x.al - x.tc + 4096.0)))
                    * 1000000000) AS BIGINT) AS w_e9
  FROM btot b CROSS JOIN clsx x
  LEFT JOIN cnt cn ON cn.bucket = b.bucket AND cn.cls = x.cls
),
per_doc AS (
  SELECT fb.doc_id, COUNT(*) AS n_feat,
         SUM(CASE WHEN s.bucket IS NULL THEN 1 ELSE 0 END) AS n_miss
  FROM fb LEFT JOIN (SELECT DISTINCT bucket FROM cnt) s
    ON fb.bucket = s.bucket
  GROUP BY fb.doc_id
),
known AS (
  SELECT fb.doc_id, d.cls, SUM(d.w_e9) AS s_known
  FROM fb JOIN dense d ON fb.bucket = d.bucket
  GROUP BY fb.doc_id, d.cls
),
grid AS (
  SELECT t.doc_id, c.cls,
         CAST(coalesce(p.n_feat, 0) AS BIGINT) AS n_feat,
         CAST(coalesce(k.s_known, 0) + coalesce(p.n_miss, 0) * c.w_def_e9
              + c.bias_e9 AS BIGINT) AS logit_e9
  FROM (SELECT doc_id FROM documents) t
  CROSS JOIN consts c
  LEFT JOIN known k ON k.doc_id = t.doc_id AND k.cls = c.cls
  LEFT JOIN per_doc p ON p.doc_id = t.doc_id
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY logit_e9 DESC, cls) AS rn,
         LEAD(logit_e9) OVER (PARTITION BY doc_id
                              ORDER BY logit_e9 DESC, cls) AS nxt
  FROM grid
)
SELECT doc_id, n_feat, cls, logit_e9,
       CAST(logit_e9 - nxt AS BIGINT) AS margin_e9
FROM ranked WHERE rn = 1
"""


def q_cls_gate(spark: SparkSession, sf: str) -> DataFrame:
    """CLS-GATE granular: MODEL-BASED quality selection end to end — the
    GPT-3/CCNet pattern (train a reference-vs-rest classifier, keep the
    top quantile by its score). Composes q_cls_score's exact nano-logits
    with ``threshold_filter`` (operators/sketches.py): a KLL sketch of
    the logit distribution yields the cut, so selection is one aggregate
    + broadcast attach + filter — never a global sort. Hash-exact in the
    KLL exact regime (rows ≤ k = 65535; see ORACLE_REGIMES — big-SF
    sweeps record rows-only past it)."""
    from ..operators.sketches import threshold_filter

    return threshold_filter(q_cls_score(spark, sf), "logit_e9", keep_frac=0.25)


ORACLE_CLS_GATE = f"""
WITH d AS ({ORACLE_CLS_SCORE}),
r AS (SELECT d.*, cume_dist() OVER (ORDER BY logit_e9) AS cd FROM d),
t AS (SELECT MIN(CASE WHEN cd >= 0.75 THEN logit_e9 END) AS thr FROM r)
SELECT doc_id, n_feat, logit_e9, pred FROM d, t WHERE logit_e9 > thr
"""


def q_text_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-TOPTERMS granular singleton: per-language top-10 vocabulary
    (operators/text.py top_terms — map-side-combined token counts,
    per-group window rank, cnt-desc/term-asc tiebreak). The same slice
    rides in TEXT-ROWS as part='topterms'; the singleton keeps the op
    verifiable at SFs where TEXT-ROWS' 9-way-union oracle exceeds the
    host (the TEXT-PROFILE oom_skip precedent)."""
    from ..operators.text import top_terms

    return top_terms(
        load(spark, sf, "documents"), "text", "lang", k=10
    ).orderBy("lang", "rank")


ORACLE_TEXT_TOPTERMS = r"""
SELECT lang, term, cnt, rnk AS rank
FROM (
  SELECT lang, term, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY cnt DESC, term) AS rnk
  FROM (
    SELECT lang, term, COUNT(*) AS cnt FROM (
      SELECT lang,
             unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ) GROUP BY lang, term
  )
) WHERE rnk <= 10
ORDER BY lang, rnk
"""


def q_text_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-GOPHER granular: the named Gopher rule battery (Rae et al.
    2021 §A1.1, operators/text.py gopher_signals) — per-doc raw counts,
    the seven per-rule booleans, and the overall pass flag. Full oracle:
    every rule is an integer cross-multiplication, so DuckDB replays the
    battery bit-for-bit with no float thresholds."""
    from ..operators.text import gopher_signals

    return gopher_signals(load(spark, sf, "documents"))


ORACLE_TEXT_GOPHER = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS ws,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS lws,
         string_split(text, chr(10)) AS lines
  FROM documents
),
c AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(ws, x -> len(x))), 0)
         AS BIGINT) AS n_chars,
    CAST(len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...')))
         AS BIGINT) AS n_symbol_words,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(list_filter(lines,
         l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*')))
         AS BIGINT) AS n_bullet_lines,
    CAST(len(list_filter(lines,
         l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
         AS BIGINT) AS n_ellipsis_lines,
    CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
         AS BIGINT) AS n_alpha_words,
    CAST((CASE WHEN list_contains(lws, 'the') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'be') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'to') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'of') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'and') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'that') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'have') THEN 1 ELSE 0 END)
       + (CASE WHEN list_contains(lws, 'with') THEN 1 ELSE 0 END)
         AS BIGINT) AS n_req_stops
  FROM t
)
SELECT *,
  (n_words >= 50 AND n_words <= 100000) AS r_wordcount,
  (3 * n_words <= n_chars AND n_chars <= 10 * n_words) AS r_meanlen,
  (10 * n_symbol_words < n_words) AS r_symbol,
  (10 * n_bullet_lines < 9 * n_lines) AS r_bullet,
  (10 * n_ellipsis_lines < 3 * n_lines) AS r_ellipsis,
  (10 * n_alpha_words >= 8 * n_words) AS r_alpha,
  (n_req_stops >= 2) AS r_stops,
  ((n_words >= 50 AND n_words <= 100000)
   AND (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
   AND (10 * n_symbol_words < n_words)
   AND (10 * n_bullet_lines < 9 * n_lines)
   AND (10 * n_ellipsis_lines < 3 * n_lines)
   AND (10 * n_alpha_words >= 8 * n_words)
   AND (n_req_stops >= 2)) AS gopher_pass
FROM c
"""


def q_text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-TFIDF (granular singleton): per-doc top-5 characteristic
    terms by tf-idf (text.tfidf_topterms) — ranking over the
    9-dp-rounded score (ln is 1-ulp engine-dependent), term-asc
    tie-break, nano-BIGINT score column; full oracle."""
    from ..operators.text import tfidf_topterms

    return tfidf_topterms(load(spark, sf, "documents"), k=5).orderBy(
        "doc_id", "rank"
    )


ORACLE_TEXT_TFIDF = r"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              x -> x <> '')) AS term
    FROM documents
  ) GROUP BY doc_id, term
), dfx AS (
  SELECT tf.*, COUNT(*) OVER (PARTITION BY term) AS dfq FROM tf
), nn AS (SELECT COUNT(*) AS n FROM documents
), s AS (
  SELECT doc_id, term, tf,
         ROUND(CAST(tf AS DOUBLE)
               * (ln((nn.n + 1.0) / (dfq + 1.0)) + 1.0), 9) AS s9
  FROM dfx, nn
)
SELECT doc_id, term, tf,
       CAST(ROUND(s9 * 1e9, 0) AS BIGINT) AS score_e9,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY s9 DESC, term) AS BIGINT) AS rank
FROM s QUALIFY rank <= 5
ORDER BY doc_id, rank
"""


def q_text_rows(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-ROWS: the row-exploding text ops union-tagged — covers
    TEXT-WINNOW (part='winnow': winnowing fingerprints, fixed-base rolling
    hash reproduced exactly by the oracle), TEXT-CHUNK (part='chunk':
    context-window chunking, 32-token windows / 8 overlap, no-new-token
    tails dropped), and TEXT-TOPTERMS (part='topterms': per-language
    top-10 vocabulary — map-side-combined token counts, per-group window
    rank, cnt-desc/term-asc tiebreak; lang:term in chunk_text, cnt in
    n_tok, rank in chunk_id), and BPE-ENCODE (part='bpe': real byte-pair
    encoding with the frozen DEMO_MERGES — space-joined token stream in
    chunk_text, true token count in n_tok; full oracle via rank-order
    string rewriting, see q_bpe_encode), WP-ENCODE (part='wp': WordPiece
    greedy longest-match with the frozen DEMO_WP_VOCAB — full oracle via
    the recursive greedy-walk replay, see q_wp_encode), UNIGRAM-ENCODE
    (part='unigram': Unigram-LM Viterbi with the frozen dyadic-logp
    DEMO_UG_PIECES — full oracle via the windowed-frontier recursive DP,
    see q_unigram_encode), LM-SCORE (part='lm':
    Stupid-Backoff LM scores — transition count in n_tok, the exact
    BIGINT nano-log10 sum in fp; see q_lm_score), and CLS-SCORE
    (part='cls': hashed-n-gram linear classifier logits — feature count
    in n_tok, the exact BIGINT nano-logit in fp; see q_cls_score)."""
    from ..operators.text import chunk_documents, top_terms

    docs = load(spark, sf, "documents")
    lm_rows = q_lm_score(spark, sf).select(
        F.lit("lm").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("chunk_id"),
        F.lit(None).cast("string").alias("chunk_text"),
        F.col("n_trans").alias("n_tok"),
        F.col("logp_e9").alias("fp"),
    )
    tfidf = q_text_tfidf(spark, sf).select(
        F.lit("tfidf").alias("part"),
        "doc_id",
        F.col("rank").alias("chunk_id"),
        F.col("term").alias("chunk_text"),
        F.col("tf").alias("n_tok"),
        F.col("score_e9").alias("fp"),
    )
    wp = q_wp_encode(spark, sf).select(
        F.lit("wp").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("chunk_id"),
        F.col("wp_text").alias("chunk_text"),
        F.col("n_tok"),
        F.lit(None).cast("long").alias("fp"),
    )
    ug = q_unigram_encode(spark, sf).select(
        F.lit("unigram").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("chunk_id"),
        F.col("ug_text").alias("chunk_text"),
        F.col("n_tok"),
        F.lit(None).cast("long").alias("fp"),
    )
    bpe = q_bpe_encode(spark, sf).select(
        F.lit("bpe").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("chunk_id"),
        F.col("bpe_text").alias("chunk_text"),
        F.col("n_tok"),
        F.lit(None).cast("long").alias("fp"),
    )
    tt = top_terms(docs, "text", "lang", k=10).select(
        F.lit("topterms").alias("part"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("rank").alias("chunk_id"),
        F.concat("lang", F.lit(":"), "term").alias("chunk_text"),
        F.col("cnt").alias("n_tok"),
        F.lit(None).cast("long").alias("fp"),
    )
    win = winnow_fingerprints_arrow(docs).select(
        F.lit("winnow").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("chunk_id"),
        F.lit(None).cast("string").alias("chunk_text"),
        F.lit(None).cast("long").alias("n_tok"),
        F.col("fp"),
    )
    ch = chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.lit("chunk").alias("part"),
        "doc_id",
        "chunk_id",
        "chunk_text",
        "n_tok",
        F.lit(None).cast("long").alias("fp"),
    )
    cls_rows = q_cls_score(spark, sf).select(
        F.lit("cls").alias("part"),
        "doc_id",
        F.lit(None).cast("long").alias("chunk_id"),
        F.lit(None).cast("string").alias("chunk_text"),
        F.col("n_feat").alias("n_tok"),
        F.col("logit_e9").alias("fp"),
    )
    return (win.unionByName(ch).unionByName(tt).unionByName(bpe)
            .unionByName(wp).unionByName(ug).unionByName(tfidf)
            .unionByName(lm_rows).unionByName(cls_rows))


ORACLE_TEXT_ROWS = f"""
SELECT 'winnow' AS part, doc_id, CAST(NULL AS BIGINT) AS chunk_id,
       CAST(NULL AS VARCHAR) AS chunk_text, CAST(NULL AS BIGINT) AS n_tok, fp
FROM ({ORACLE_TEXT_WINNOW}) w
UNION ALL
SELECT 'chunk' AS part, doc_id, chunk_id, chunk_text, n_tok,
       CAST(NULL AS BIGINT) AS fp
FROM ({ORACLE_TEXT_CHUNK}) c
UNION ALL
SELECT 'topterms' AS part, CAST(NULL AS BIGINT) AS doc_id,
       rnk AS chunk_id, lang || ':' || term AS chunk_text,
       cnt AS n_tok, CAST(NULL AS BIGINT) AS fp
FROM (
  SELECT lang, term, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rnk
  FROM (
    SELECT lang, term, COUNT(*) AS cnt FROM (
      SELECT lang,
             unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ) GROUP BY lang, term
  )
) WHERE rnk <= 10
UNION ALL
SELECT 'bpe' AS part, doc_id, CAST(NULL AS BIGINT) AS chunk_id,
       bpe_text AS chunk_text, n_tok, CAST(NULL AS BIGINT) AS fp
FROM ({ORACLE_BPE_ENCODE}) b
UNION ALL
SELECT 'wp' AS part, doc_id, CAST(NULL AS BIGINT) AS chunk_id,
       wp_text AS chunk_text, n_tok, CAST(NULL AS BIGINT) AS fp
FROM ({ORACLE_WP_ENCODE}) wpx
UNION ALL
SELECT 'unigram' AS part, doc_id, CAST(NULL AS BIGINT) AS chunk_id,
       ug_text AS chunk_text, n_tok, CAST(NULL AS BIGINT) AS fp
FROM ({ORACLE_UNIGRAM_ENCODE}) ugx
UNION ALL
SELECT 'tfidf' AS part, doc_id, rank AS chunk_id, term AS chunk_text,
       tf AS n_tok, score_e9 AS fp
FROM ({ORACLE_TEXT_TFIDF}) tdx
UNION ALL
SELECT 'lm' AS part, doc_id, CAST(NULL AS BIGINT) AS chunk_id,
       CAST(NULL AS VARCHAR) AS chunk_text, n_trans AS n_tok, logp_e9 AS fp
FROM ({ORACLE_LM_SCORE}) l
UNION ALL
SELECT 'cls' AS part, doc_id, CAST(NULL AS BIGINT) AS chunk_id,
       CAST(NULL AS VARCHAR) AS chunk_text, n_feat AS n_tok, logit_e9 AS fp
FROM ({ORACLE_CLS_SCORE}) cl
"""


def q_e_robust(spark: SparkSession, sf: str) -> DataFrame:
    """E-ROBUST (granular singleton): robust-statistics gates over doc
    lengths per language — winsorized n_chars (clip to the exact
    [p5, p95]) and the median/MAD outlier flag (|x-med| > 3·MAD), both
    via per-key aggregate + broadcast attach (the data never shuffles).
    Full oracle: Spark's exact percentile and DuckDB's quantile_cont
    share linear interpolation (the E-QUANTILE precedent).

    Plan note: naively CHAINING a winsorize pass and a MAD-outlier pass
    duplicates each one's aggregate subtree (Spark does not reuse
    exchanges across differing parent aggregates — the LM/DSIR lesson),
    costing 8 exchanges / extra scans; this entry computes the three
    base quantiles in ONE per-key pass and MAD in a second (MAD is
    inherently sequential after the median), then attaches both."""
    docs = load(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    stats = docs.groupBy("lang").agg(
        F.percentile(F.col("n_chars"), F.lit(0.05)).alias("_lo"),
        F.percentile(F.col("n_chars"), F.lit(0.95)).alias("_hi"),
        F.percentile(F.col("n_chars"), F.lit(0.5)).alias("_med"),
    )
    with_stats = docs.join(F.broadcast(stats), "lang")
    mad = with_stats.groupBy("lang").agg(
        F.percentile(F.abs(F.col("n_chars") - F.col("_med")), F.lit(0.5)).alias(
            "_mad"
        )
    )
    return (
        with_stats.join(F.broadcast(mad), "lang")
        .select(
            "doc_id", "lang", "n_chars",
            F.least(F.greatest(F.col("n_chars").cast("double"), F.col("_lo")),
                    F.col("_hi")).alias("clipped"),
            (F.abs(F.col("n_chars") - F.col("_med"))
             > F.lit(3.0) * F.col("_mad")).alias("is_outlier"),
        )
        .orderBy("doc_id")
    )


ORACLE_E_ROBUST = """
WITH b AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi,
         quantile_cont(n_chars, 0.5) AS med
  FROM documents GROUP BY lang
), m AS (
  SELECT d.lang, quantile_cont(abs(d.n_chars - b.med), 0.5) AS mad
  FROM documents d JOIN b USING (lang) GROUP BY d.lang
)
SELECT d.doc_id, d.lang, d.n_chars,
       LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi) AS clipped,
       (abs(d.n_chars - b.med) > 3.0 * m.mad) AS is_outlier
FROM documents d JOIN b USING (lang) JOIN m USING (lang)
ORDER BY d.doc_id
"""
