from __future__ import annotations

from ._shared import DataFrame, F, SparkSession, Window, _cents, asof_join, audio_features, blocked_jaccard_pairs, exact_dedup, image_features, interval_overlap_join, load, media_from_documents, quality_score, quantize_int8, range_join, resize_images, sample_frames, session_agg, token_count, winnow_fingerprints_arrow
from .similarity_text import _QUALITY_SQL_FRAGMENTS



# -------------------------------------------------- end-to-end pipeline

def q_pipe_docs(spark: SparkSession, sf: str) -> DataFrame:
    """PIPE-DOCS: the training-data pipeline end-to-end in ONE lazy plan —
    exact dedup → quality filter → blocked near-dup prune (drop the higher
    id of each qualifying pair) → embedding-coverage join. Every stage is
    the oracle-expressible variant of its family, so the whole composition
    hash-checks against DuckDB.

    Scale shape: fingerprint groupBy shuffles 16-byte hashes; the quality
    filter is row-local and runs before the expensive pair stage (prune
    early); near-dup pairs join exploded tokens within (lang, source)
    blocks; the final embedding join shuffles on the id (or broadcasts, AQE
    decides). No stage holds the corpus in one place.
    """
    from ..plans.compose import StageCache, release_when_unreachable

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    shared = StageCache()
    s1 = exact_dedup(docs)
    # s2 feeds the pair stage, the anti-join left side, and (via the
    # pair stage's token/size frames) several more branches — persist
    # through one cache whose lifetime is the returned frame's
    s2 = shared(s1.where(quality_score("text") >= 0.5))
    pairs = blocked_jaccard_pairs(s2, ["lang", "source"], threshold=0.6,
                                  cache=shared, broadcast_routing=True,
                                  branch_gate=True)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    s3 = s2.join(losers, "doc_id", "left_anti")
    has_emb = emb.select(F.col("vec_id").alias("doc_id"), F.lit(True).alias("_he"))
    out = (
        s3.join(has_emb, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            token_count("text").alias("n_tokens"),
            quality_score("text").alias("quality"),
            F.coalesce(F.col("_he"), F.lit(False)).alias("has_embedding"),
        )
    )
    return release_when_unreachable(out, shared)


ORACLE_PIPE_DOCS = (
    "WITH "
    + _QUALITY_SQL_FRAGMENTS
    + r""",
q AS (
  SELECT doc_id,
         LEAST(n_tok / 200.0, 1.0) * 0.4
           + (1.0 - LEAST(punct_ratio * 4.0, 1.0)) * 0.3
           + LEAST(stop_ratio * 4.0, 1.0) * 0.3 AS quality,
         CAST(n_tok AS BIGINT) AS n_tokens
  FROM sig
),
fp AS (
  SELECT doc_id, lang, source, text,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS fp
  FROM documents
),
k1 AS (
  SELECT doc_id, lang, source, text FROM fp
  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
),
k2 AS (
  SELECT k1.*, q.quality, q.n_tokens FROM k1 JOIN q USING (doc_id)
  WHERE q.quality >= 0.5
),
tok2 AS (
  SELECT doc_id, lang, source,
         list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM k2
),
pairs AS (
  SELECT b.doc_id AS id_b
  FROM tok2 a JOIN tok2 b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CASE WHEN len(list_distinct(a.t || b.t)) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                  / CAST(len(list_distinct(a.t || b.t)) AS DOUBLE) END >= 0.6
)
SELECT k2.doc_id, k2.lang, k2.source, k2.n_tokens, k2.quality,
       e.vec_id IS NOT NULL AS has_embedding
FROM k2
LEFT JOIN embeddings e ON k2.doc_id = e.vec_id
WHERE k2.doc_id NOT IN (SELECT id_b FROM pairs)
"""
)


def q_emb_quant(spark: SparkSession, sf: str) -> DataFrame:
    """EMB-QUANT: the embedding column-math family union-tagged —
    part='quant': symmetric int8 scalar quantization exploded to
    (vec_id, scale, idx, code) rows, identical floor/scale arithmetic on
    both engines; part='centroid' (EMB-CENTROID): per-label mean
    embeddings via posexplode + map-side-combined (group, idx) aggregation
    — float-order-proof because the mean sums floor(x*1e6) BIGINTs
    (exact, associative) and divides back out once; part='verify'
    (EMB-VERIFY): the exact-cosine VERIFY stage of embedding_near_dups
    (similarity.verify_cosine_pairs — the code path LSH candidates flow
    through) on a DETERMINISTIC consecutive-vec_id pair set, full-oracle
    because the zip_with+aggregate fold is sequential in both engines →
    bit-equal doubles, with the 0.95 threshold flag. Splits EMB-NEARDUP's
    rows-only trust surface the way DEDUP-VERIFY split DEDUP-CANDIDATES;
    part='mrl' (EMB-MRL): Matryoshka truncation to 16 dims + L2 renorm
    exploded to (vec_id, idx, value) — sqrt/divide are correctly-rounded
    IEEE on both engines; part='bq' (EMB-BQ): 1-bit sign quantization
    packed 32-dims-per-long, word in the n_vecs slot — integer-exact."""
    from ..operators.similarity import (
        binary_quantize,
        emb_centroids,
        truncate_embeddings,
        verify_cosine_pairs,
    )

    emb = load(spark, sf, "embeddings")
    null_tail = [
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("cos_sim"),
        F.lit(None).cast("boolean").alias("is_near_dup"),
    ]
    quant = quantize_int8(emb).select(
        F.lit("quant").alias("part"), "vec_id", "scale", "idx", "code",
        F.lit(None).cast("long").alias("n_vecs"),
        F.lit(None).cast("double").alias("centroid"),
        *null_tail,
    )
    cent = emb_centroids(emb, "label").select(
        F.lit("centroid").alias("part"),
        F.col("label").cast("long").alias("vec_id"),
        F.lit(None).cast("double").alias("scale"),
        "idx",
        F.lit(None).cast("int").alias("code"),
        "n_vecs",
        "centroid",
        *null_tail,
    )
    ids = emb.select("vec_id")
    cands = ids.select(
        F.col("vec_id").alias("id_a"), (F.col("vec_id") + 1).alias("id_b")
    ).join(ids.select(F.col("vec_id").alias("id_b")), "id_b")
    ver = verify_cosine_pairs(cands, emb, threshold=None).select(
        F.lit("verify").alias("part"),
        F.col("id_a").alias("vec_id"),
        F.lit(None).cast("double").alias("scale"),
        F.lit(None).cast("int").alias("idx"),
        F.lit(None).cast("int").alias("code"),
        F.lit(None).cast("long").alias("n_vecs"),
        F.lit(None).cast("double").alias("centroid"),
        "id_b",
        "cos_sim",
        (F.col("cos_sim") >= 0.95).alias("is_near_dup"),
    )
    mrl = (
        truncate_embeddings(emb, 16, out_col="_t")
        .select("vec_id", F.posexplode("_t").alias("idx", "_v"))
        .select(
            F.lit("mrl").alias("part"), "vec_id",
            F.lit(None).cast("double").alias("scale"), "idx",
            F.lit(None).cast("int").alias("code"),
            F.lit(None).cast("long").alias("n_vecs"),
            F.col("_v").alias("centroid"),
            *null_tail,
        )
    )
    bq = (
        binary_quantize(emb)
        .select("vec_id", F.posexplode("bq").alias("idx", "_w"))
        .select(
            F.lit("bq").alias("part"), "vec_id",
            F.lit(None).cast("double").alias("scale"), "idx",
            F.lit(None).cast("int").alias("code"),
            F.col("_w").alias("n_vecs"),
            F.lit(None).cast("double").alias("centroid"),
            *null_tail,
        )
    )
    return (
        quant.unionByName(cent).unionByName(ver)
        .unionByName(mrl).unionByName(bq)
    )


ORACLE_EMB_QUANT = """
WITH scaled AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale,
         embedding
  FROM embeddings
)
SELECT 'quant' AS part, vec_id, scale,
       CAST(u.i - 1 AS INTEGER) AS idx,
       CAST(CASE WHEN scale = 0 THEN 0
                 ELSE floor(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) / scale + 0.5)
            END AS INTEGER) AS code,
       CAST(NULL AS BIGINT) AS n_vecs, CAST(NULL AS DOUBLE) AS centroid,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cos_sim,
       CAST(NULL AS BOOLEAN) AS is_near_dup
FROM scaled, unnest(range(1, len(embedding) + 1)) AS u(i)
UNION ALL
SELECT 'centroid' AS part, CAST(label AS BIGINT) AS vec_id,
       CAST(NULL AS DOUBLE) AS scale, idx, CAST(NULL AS INTEGER) AS code,
       n_vecs, CAST(sq AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1000000.0) AS centroid,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cos_sim,
       CAST(NULL AS BOOLEAN) AS is_near_dup
FROM (
  SELECT label, CAST(u.i - 1 AS INTEGER) AS idx, COUNT(*) AS n_vecs,
         SUM(CAST(floor(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) * 1000000.0)
                  AS BIGINT)) AS sq
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
  GROUP BY label, CAST(u.i - 1 AS INTEGER)
)
UNION ALL
SELECT 'verify' AS part, id_a AS vec_id,
       CAST(NULL AS DOUBLE) AS scale, CAST(NULL AS INTEGER) AS idx,
       CAST(NULL AS INTEGER) AS code, CAST(NULL AS BIGINT) AS n_vecs,
       CAST(NULL AS DOUBLE) AS centroid, id_b,
       CASE WHEN denom = 0 THEN 0.0 ELSE dp / denom END AS cos_sim,
       (CASE WHEN denom = 0 THEN 0.0 ELSE dp / denom END >= 0.95) AS is_near_dup
FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) AS dp,
         sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) *
         sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
           AS denom
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
)
UNION ALL
SELECT 'mrl' AS part, vec_id, CAST(NULL AS DOUBLE) AS scale,
       CAST(u.i - 1 AS INTEGER) AS idx, CAST(NULL AS INTEGER) AS code,
       CAST(NULL AS BIGINT) AS n_vecs,
       CASE WHEN nrm = 0 THEN 0.0
            ELSE CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) / nrm
       END AS centroid,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cos_sim,
       CAST(NULL AS BOOLEAN) AS is_near_dup
FROM (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(range(1, 17),
           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           AS nrm
  FROM embeddings
), unnest(range(1, 17)) AS u(i)
UNION ALL
SELECT 'bq' AS part, vec_id, CAST(NULL AS DOUBLE) AS scale,
       CAST(w.i AS INTEGER) AS idx, CAST(NULL AS INTEGER) AS code,
       CAST(list_sum(list_transform(range(0, 32),
         b -> CASE WHEN 32 * w.i + b < len(embedding)
                    AND embedding[CAST(32 * w.i + b + 1 AS INT)] >= 0
                   THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END))
            AS BIGINT) AS n_vecs,
       CAST(NULL AS DOUBLE) AS centroid,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cos_sim,
       CAST(NULL AS BOOLEAN) AS is_near_dup
FROM embeddings, unnest(range(0, CAST(ceil(len(embedding) / 32.0) AS BIGINT))) AS w(i)
"""


def q_asof(spark: SparkSession, sf: str) -> DataFrame:
    """J-ASOF: backward as-of join — every 10th event (the "observation")
    picks up the latest PRIOR other event of its user (point-in-time
    enrichment, no look-ahead). Right side pre-deduped to one row per
    (user, ts) (max event_id) so both engines resolve ties identically;
    DuckDB's native ASOF LEFT JOIN is the oracle. One shuffle on user_id —
    the union + carry-forward window, no range explosion."""
    ev = load(spark, sf, "events")
    left = ev.where(F.col("event_id") % 10 == 0).select("event_id", "user_id", "ts")
    rn_w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        ev.where(F.col("event_id") % 10 != 0)
        .withColumn("_rn", F.row_number().over(rn_w))
        .where(F.col("_rn") == 1)
        .select("user_id", "ts", "event_id", "value")
    )
    out = asof_join(left, right, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("right_event_id").alias("prior_event_id"),
        F.col("right_value").alias("prior_value"),
        F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("prior_ts"),
    )


ORACLE_ASOF = r"""
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_id % 10 = 0
), r AS (
  SELECT user_id, ts, event_id, value
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                 ORDER BY event_id DESC) AS rn
    FROM events WHERE event_id % 10 <> 0
  ) WHERE rn = 1
)
SELECT l.event_id, l.user_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       r.event_id AS prior_event_id,
       r.value AS prior_value,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS prior_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
"""


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """J-RANGE: the inequality-join family union-tagged, both shapes
    bucketed equi-joins (never a nested-loop):

    part='contain' — interval-containment: every 20th event anchors a
    2-hour window [ts, ts+2h]; count/sum the user's other events inside
    it (1-hour buckets → each interval fans out to ≤3 bucket rows, exact
    BETWEEN post-filter). Sums in cents-BIGINT per the oracle rules.

    part='overlap' — J-OVERLAP, interval-vs-interval: the same anchors'
    2-hour windows overlap-joined (per user) against the 10-offset
    anchors' 1-hour windows; both sides explode into buckets, pairs emit
    exactly once via the bucket-of-max-start rule, exact overlap
    post-filter; reports the pair and its overlap seconds."""
    ev = load(spark, sf, "events")
    anchors = ev.where(F.col("event_id") % 20 == 0).select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    others = ev.where(F.col("event_id") % 20 != 0).select(
        "user_id", "ts", "value"
    )
    joined = range_join(
        anchors, others, start="w_start", end="w_end", right_ts="ts",
        on="user_id", bucket="1 hour",
    )
    contain = joined.groupBy("anchor_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_in_window"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    ).select(
        F.lit("contain").alias("part"), "anchor_id", "user_id",
        "n_in_window", "value_cents",
        F.lit(None).cast("long").alias("b_id"),
        F.lit(None).cast("long").alias("overlap_sec"),
    )
    b_side = ev.where(F.col("event_id") % 20 == 10).select(
        F.col("event_id").alias("b_id"),
        "user_id",
        F.col("ts").alias("b_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("b_end"),
    )
    overlap = interval_overlap_join(
        anchors, b_side, "w_start", "w_end", "b_start", "b_end",
        on="user_id", bucket="1 hour",
    ).select(
        F.lit("overlap").alias("part"), "anchor_id", "user_id",
        F.lit(None).cast("long").alias("n_in_window"),
        F.lit(None).cast("long").alias("value_cents"),
        "b_id",
        (
            F.unix_timestamp(F.least("w_end", "b_end"))
            - F.unix_timestamp(F.greatest("w_start", "b_start"))
        ).alias("overlap_sec"),
    )
    return contain.unionByName(overlap)


ORACLE_RANGE_JOIN = r"""
SELECT 'contain' AS part, a.event_id AS anchor_id, a.user_id,
       COUNT(*) AS n_in_window,
       SUM(CAST(FLOOR(o.value * 100) AS BIGINT)) AS value_cents,
       CAST(NULL AS BIGINT) AS b_id, CAST(NULL AS BIGINT) AS overlap_sec
FROM events a
JOIN events o
  ON o.user_id = a.user_id
 AND o.ts BETWEEN a.ts AND a.ts + INTERVAL 2 HOURS
WHERE a.event_id % 20 = 0 AND o.event_id % 20 <> 0
GROUP BY 2, 3
UNION ALL
SELECT 'overlap', a.event_id, a.user_id, NULL, NULL,
       b.event_id AS b_id,
       CAST(FLOOR(epoch(least(a.ts + INTERVAL 2 HOURS, b.ts + INTERVAL 1 HOUR)))
            - FLOOR(epoch(greatest(a.ts, b.ts))) AS BIGINT) AS overlap_sec
FROM events a
JOIN events b
  ON b.user_id = a.user_id
 AND a.ts <= b.ts + INTERVAL 1 HOUR
 AND b.ts <= a.ts + INTERVAL 2 HOURS
WHERE a.event_id % 20 = 0 AND b.event_id % 20 = 10
"""


def q_pipe_events(spark: SparkSession, sf: str) -> DataFrame:
    """PIPE-EVENTS: the event-stream pipeline end-to-end — sessionize
    (10-min gap) → per-session stats → per-user rollup with an argmax
    (busiest session) → engaged-user filter (≥2 sessions). Batch here;
    stage 1 is the same session_agg that runs under a watermark in
    streaming mode. Shuffle shape: one shuffle to (user_id) for the session
    window, reused by the per-user groupBy — Catalyst keeps both on the
    same partitioning.
    """
    ev = load(spark, sf, "events")
    sessions = session_agg(
        ev,
        "ts",
        "10 minutes",
        [F.count(F.lit(1)).alias("n_events"), F.sum(_cents("value")).alias("value_cents")],
        keys=["user_id"],
    )
    sess = sessions.select(
        "user_id",
        "n_events",
        "value_cents",
        (F.unix_millis("session_end") - F.unix_millis("session_start")).alias("dur_ms"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
    )
    per_user = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum("value_cents").cast("long").alias("value_cents"),
        F.max("dur_ms").alias("max_session_ms"),
        F.max(F.struct(F.col("n_events"), F.col("session_start"))).alias("_busy"),
    )
    return per_user.where(F.col("n_sessions") >= 2).select(
        "user_id",
        "n_sessions",
        "n_events",
        "value_cents",
        "max_session_ms",
        F.col("_busy")["session_start"].alias("busiest_session_start"),
    )


ORACLE_PIPE_EVENTS = """
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL '10 minutes' THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), grouped AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
), sessions AS (
  SELECT user_id,
         MIN(ts) AS session_start_ts,
         MAX(ts) + INTERVAL '10 minutes' AS session_end_ts,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
  FROM grouped GROUP BY user_id, session_id
), sess AS (
  SELECT user_id, n_events, value_cents,
         epoch_ms(session_end_ts) - epoch_ms(session_start_ts) AS dur_ms,
         strftime(session_start_ts, '%Y-%m-%d %H:%M:%S.%f') AS session_start
  FROM sessions
), per_user AS (
  SELECT user_id, COUNT(*) AS n_sessions,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         CAST(SUM(value_cents) AS BIGINT) AS value_cents,
         MAX(dur_ms) AS max_session_ms
  FROM sess GROUP BY user_id
), busy AS (
  SELECT user_id, session_start AS busiest_session_start
  FROM sess
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                             ORDER BY n_events DESC, session_start DESC) = 1
)
SELECT p.user_id, p.n_sessions, p.n_events, p.value_cents, p.max_session_ms,
       b.busiest_session_start
FROM per_user p JOIN busy b USING (user_id)
WHERE p.n_sessions >= 2
"""


def q_text_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-WINNOW: winnowing document fingerprints (polynomial rolling hash
    over char 8-grams, min of each 4-window) exploded to (doc_id, fp) rows.
    Local fingerprinting: shared substrings >= 11 chars guarantee a shared
    fingerprint — the partial-overlap detector md5 can't be. Fixed
    base/modulus arithmetic reproduced exactly by the DuckDB oracle.
    Served by the Arrow/numpy path (rolling-hash + sliding-min per doc
    batch, zero data shuffles — 57x-family speedup at sf1), pinned to
    a pure-Python model in tests."""
    docs = load(spark, sf, "documents")
    return winnow_fingerprints_arrow(docs)


ORACLE_TEXT_WINNOW = """
WITH c AS (SELECT doc_id, lower(text) AS t, length(lower(text)) AS n FROM documents),
grams AS (
  SELECT doc_id,
    CASE WHEN n < 8 THEN CAST([] AS BIGINT[])
    ELSE list_transform(range(1, n - 7 + 1),
      i -> list_sum(list_transform(range(0, 8),
             j -> CAST(ord(substr(t, CAST(i + j AS INT), 1)) AS BIGINT)
                  * CAST([1, 31, 961, 29791, 923521, 28629151, 887503681, 512613922][CAST(j + 1 AS INT)] AS BIGINT))) % 1000000007)
    END AS hashes
  FROM c
),
mins AS (
  SELECT doc_id,
    CASE WHEN len(hashes) = 0 THEN CAST([] AS BIGINT[])
         WHEN len(hashes) < 4 THEN [list_min(hashes)]
         ELSE list_transform(range(1, len(hashes) - 3 + 1),
                i -> list_min(list_slice(hashes, CAST(i AS INT), CAST(i + 3 AS INT))))
    END AS fp
  FROM grams
)
SELECT doc_id, CAST(unnest(list_distinct(fp)) AS BIGINT) AS fp FROM mins
"""


# ------------------------------------------------------------- multimodal

def _media(spark: SparkSession, sf: str) -> DataFrame:
    return media_from_documents(load(spark, sf, "documents"))


def q_mm_image(spark: SparkSession, sf: str) -> DataFrame:
    """MM-IMAGE: image decode + feature extraction over a binary payload
    column via Arrow-batched mapInPandas (stub decoder: sha256-derived
    pseudo-luma — deterministic, so the DuckDB oracle recomputes it)."""
    return image_features(_media(spark, sf))


ORACLE_MM_IMAGE = """
SELECT doc_id AS media_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       CAST(64 + (doc_id % 16) * 32 AS INTEGER) AS width,
       CAST(64 + (doc_id % 9) * 32 AS INTEGER) AS height,
       CAST(CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT) % 256000 AS DOUBLE)
         / 1000.0 AS mean_luma,
       'fake' AS decoder
FROM documents WHERE doc_id % 3 = 0
"""


def q_mm_audio(spark: SparkSession, sf: str) -> DataFrame:
    """MM-AUDIO: audio feature extraction (stub pseudo-RMS; duration passes
    through from typed metadata)."""
    return audio_features(_media(spark, sf))


ORACLE_MM_AUDIO = """
SELECT doc_id AS media_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       CAST(length(text) AS DOUBLE) / 100.0 AS duration_s,
       (CAST(CAST(('0x' || substr(sha256(text), 1, 8)) AS BIGINT) % 256000 AS DOUBLE)
         / 1000.0) / 256.0 AS rms_pseudo,
       'fake' AS decoder
FROM documents WHERE doc_id % 3 = 1
"""


def q_mm_frames(spark: SparkSession, sf: str) -> DataFrame:
    """MM-FRAMES: video frame-sampling plan — posexplode over a
    metadata-driven stride sequence, pure JVM (no decode touched)."""
    return sample_frames(_media(spark, sf), every_n=10)


ORACLE_MM_FRAMES = """
WITH vids AS (
  SELECT doc_id AS media_id, CAST((doc_id % 240) + 1 AS INTEGER) AS n_frames
  FROM documents WHERE doc_id % 3 = 2
),
f AS (
  SELECT media_id, n_frames,
         CAST(unnest(range(0, n_frames, 10)) AS INTEGER) AS frame_idx
  FROM vids
)
SELECT media_id, n_frames,
       CAST(ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY frame_idx) - 1
            AS INTEGER) AS sample_idx,
       frame_idx
FROM f
"""


def q_mm_resize(spark: SparkSession, sf: str) -> DataFrame:
    """MM-RESIZE: image resize through the Pandas-UDF stage (stub passes
    bytes through and rewrites metadata dims — the oracle checks the
    plumbing: payload length survives, dims/format rewritten)."""
    out = resize_images(_media(spark, sf), width=64, height=48)
    return out.select(
        "media_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("metadata")["width"].alias("width"),
        F.col("metadata")["height"].alias("height"),
        F.col("metadata")["format"].alias("format"),
    )


ORACLE_MM_RESIZE = """
SELECT doc_id AS media_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       64 AS width, 48 AS height,
       'png+fake-resize' AS format
FROM documents WHERE doc_id % 3 = 0
"""


def q_pipe_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """PIPE-CORPUS: the full training-data pipeline a real LM job
    composes, end-to-end in ONE lazily-built DAG — the engine's whole
    thesis (operators compose without materialization barriers) proved
    on the corpus family the way PIPE-DOCS proves it for the §2 surface:

      line-structured arrival docs (boilerplate banners/footers)
      → line-level boilerplate removal (line_dedup, CCNet-style)
      → quality gate (Gopher-flavored composite ≥ 0.45)
        + language gate (stopword-argmax lang_id ≠ 'und')
      → exact dedup (normalized-fingerprint min-id)
      → near-dup prune (blocked token-Jaccard pairs → connected
        components → keep the min-id representative)
      → benchmark decontamination (word-8-gram vs the doc_id%97 eval
        slice, Bloom-prefiltered scale path — oracle states the exact
        semantics it is pinned bit-identical to)
      → DSIR importance scoring vs the doc_id%101 target slice + KLL
        threshold gate (top 25% by exact nano-BIGINT log-weight)
      → greedy token-budget shard packing (2000 tok, 8 hash buckets)
      → BPE tokenization (frozen DEMO_MERGES).

    Every stage is the oracle-expressible member of its family, so the
    COMPOSITION hash-checks against one chained-CTE DuckDB replay.

    Scale shape: gates are row-local and run before the pair stage
    (prune early); the only corpus-wide shuffles are the line/exact
    fingerprint groupBys (16-byte hashes), the blocked pair join, and
    the pack window over bucket-sized partitions; eval grams, the DSIR
    weight table (4096 rows) and the KLL threshold attach by broadcast;
    BPE is one Arrow-batched mapInPandas over the final survivors.
    """
    from ..plans.compose import release_when_unreachable

    stages, shared = pipe_corpus_stage_frames(spark, sf)
    return release_when_unreachable(stages[-1][1], shared)


def q_pipe_corpus_components(spark: SparkSession, sf: str) -> DataFrame:
    """PIPE-CORPUS with the near-dup stage at COMPONENT grain (bench
    entry, VERDICT r11 item 4): identical chain to :func:`q_pipe_corpus`
    except the prune runs :func:`minhash_components` star edges →
    :func:`prune_by_components` instead of exact blocked-Jaccard pairs →
    connected components. At 100× this is the default you'd actually
    run: star-edge output is ≤ docs × bands rows REGARDLESS of clique
    structure (a boilerplate crawl makes the pair grain quadratic in
    replica count), hot buckets are capped with an auditable surface,
    and no exact-verify join touches the token table. Banding-graph
    semantics (no exact-Jaccard verify) — pinned by the bounded-grain
    fixture, the end-to-end pipeline test, and the
    prune-at-least-as-much-as-pairs cardinality test rather than the
    DuckDB oracle."""
    from ..plans.compose import release_when_unreachable

    stages, shared = pipe_corpus_stage_frames(spark, sf, near_dup="components")
    return release_when_unreachable(stages[-1][1], shared)


def pipe_corpus_stage_frames(spark: SparkSession, sf: str, near_dup: str = "pairs"):
    """The PIPE-CORPUS DAG with its stage boundaries exposed: an ordered
    ``[(stage_name, DataFrame), ...]`` (the last frame IS the composed
    result — q_pipe_corpus returns exactly it) plus the StageCache whose
    release the caller owns. Single source of truth for the chain;
    bench.py times each boundary from its persisted predecessor so a
    composition regression names its STAGE instead of re-deriving the
    attribution from plans (VERDICT r9 item 6).

    ``near_dup`` selects the near-dup prune stage's grain (VERDICT r10
    item 4): ``"pairs"`` (default — verified blocked token-Jaccard pairs
    → components, the exact semantics the PIPE-CORPUS oracle replays) or
    ``"components"`` — the clique-safe path for boilerplate-heavy crawls:
    :func:`minhash_components` star-edge grain (≤ docs × bands edges
    regardless of clique structure, hot-bucket capped at 64) →
    :func:`prune_by_components`. Same chain either side of the stage;
    the components mode is banding-graph semantics (no exact-Jaccard
    verify), so it is pinned by the bounded-grain fixture and the
    end-to-end pipeline test rather than the DuckDB oracle.

    Stage outputs that downstream stages reference MORE THAN ONCE go
    through the StageCache: Spark does not share common subplans
    across references (the documented exchange-reuse lesson), so an
    uncached chain this deep re-executes the line-dedup + gate
    subtree per reference — measured 39 s -> 8 s at sf0.01. The DAG
    stays lazy; these are post-gate, survivor-sized frames, not the
    corpus. Lifecycle: released when the composed frame becomes
    unreachable (driver-contract mode — the caller owns the actions),
    so nothing stays cached once the result is dropped.
    """
    from ..operators.bpe import DEMO_MERGES, bpe_encode_text
    from ..operators.corpus import dsir_weights, pack_shards
    from ..operators.dedup import (
        line_dedup,
        minhash_components,
        prune_by_components,
        prune_components,
    )
    from ..operators.sketches import bloom_decontaminate, threshold_filter
    from ..operators.text import lang_id
    from ..plans.compose import StageCache
    from .views_dedup_corpus import _structured_docs

    raw = load(spark, sf, "documents")
    meta = raw.select("doc_id", "lang", "source")
    d1 = (
        line_dedup(_structured_docs(spark, sf))
        .select("doc_id", "text")
        .join(meta, "doc_id")
    )
    shared = StageCache()
    d2 = shared(
        d1.where((quality_score("text") >= 0.45) & (lang_id("text") != "und"))
    )
    # d3 is the composition's fan-out root: the pair stage references it
    # 4× internally and the prune anti-join once more, and r12's lazy
    # connected_components nests the WHOLE pair plan under every later
    # stage — without a plan-leaf boundary here the composed logical
    # tree is exponential (the analyzer walked it for minutes; its
    # string alone overflowed the JVM heap). cut() collapses d3 to one
    # RDD-scan leaf with zero construction-time jobs: d2 is persisted
    # just above, so the frozen subtree is an InMemoryRelation scan +
    # exact_dedup's narrow ops (see StageCache.cut's placement rule).
    # The checkpoint RDD persists on first compute, which IS the
    # multi-reference reuse a shared() would have bought — no SQL
    # persist on top (it would store the same rows twice).
    d3 = shared.cut(exact_dedup(d2))
    if near_dup == "components":
        comps = minhash_components(d3, max_bucket_size=64)
        d4 = prune_by_components(d3, comps)
    elif near_dup == "pairs":
        pairs = blocked_jaccard_pairs(d3, ["lang", "source"], threshold=0.2,
                                      cache=shared, broadcast_routing=True,
                                      branch_gate=True)
        d4 = prune_components(d3, pairs)
    else:
        raise ValueError(f"near_dup must be 'pairs' or 'components', got {near_dup!r}")
    # d5 is the chain's SECOND fan-out root (the DSIR model, the scored
    # join's left side, and — through d6/d7 — the pack/BPE stages all sit
    # on it), and everything above it is the pair/CC/decontam machinery
    # whose logical subtree is the bulk of the 13k-line composed plan.
    # cut() here (r12 session 3) truncates that subtree from every
    # downstream analyzer/optimizer walk: interleaved A/B (3 reps, both
    # orders) measured construction+action
    # 16.5–17.7 s → 10.7–11.7 s at sf0.1 with the composed noop action
    # dropping 9.7–10.0 → 1.5–1.8 s — the d4/d5 work executes exactly
    # once either way (d5 was persisted before; checkpoint blocks serve
    # the same reuse), so the ~6 s saved is pure plan-walking overhead.
    d5 = shared.cut(bloom_decontaminate(d4, raw.where(F.col("doc_id") % 97 == 0)))
    w = shared(dsir_weights(d5, raw.where(F.col("doc_id") % 101 == 0)))
    gate = threshold_filter(w, "logw_e9", keep_frac=0.25)
    d6 = d5.join(gate.select("doc_id", "logw_e9"), "doc_id")
    # d7 is referenced TWICE (the BPE encode input and the final join's
    # left side) — without the cache the whole line-dedup→…→pack chain
    # re-executes under bpe_encode. Found by the r10 stage attribution's
    # first run: stage sum 12.1 s vs composed 18.4 s, and the 6.3 s gap
    # equals one extra execution of the d1..d7 chain (5.9 s).
    d7 = shared(
        pack_shards(
            d6.withColumn("n_tok", token_count("text")), "n_tok", 2000, num_buckets=8
        )
    )
    enc = bpe_encode_text(d7, DEMO_MERGES)
    out = d7.join(
        enc.select(
            "doc_id",
            "bpe_text",
            F.col("n_bpe_tokens").alias("n_bpe_tok"),
        ),
        "doc_id",
    ).select(
        "doc_id", "lang", "source", "n_tok", "shard_id", "logw_e9",
        "n_bpe_tok", "bpe_text",
    )
    return [
        ("line_dedup", d1),
        ("quality_lang_gates", d2),
        ("exact_dedup", d3),
        ("near_dup_prune", d4),
        ("decontam", d5),
        ("dsir_gate", d6),
        ("pack_shards", d7),
        ("bpe_encode", out),
    ], shared


def _oracle_pipe_corpus() -> str:
    from .media_history import _bpe_frame_sql, _bpe_replace_chain

    bpe_expr = _bpe_replace_chain(_bpe_frame_sql("t[CAST(u.i AS INT)]"))
    # the template is a RAW string (regex backslashes), so the BPE
    # sentinel literals below are the 4-char sequence \x1f — swap them
    # for the real control char after assembly (bpe_expr already
    # carries real sentinels and is unaffected)
    return _RAW_PIPE_CORPUS_TMPL(bpe_expr).replace("\\x1f", "\x1f")


def _RAW_PIPE_CORPUS_TMPL(bpe_expr: str) -> str:
    return rf"""
WITH RECURSIVE structured AS (
  SELECT doc_id,
         'cookie notice variant ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
         regexp_replace(text, '((\S+\s+){{7}})', '\1' || chr(10), 'g') || chr(10) ||
         '(c) example corp all rights reserved' AS text
  FROM documents
), lex AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS ln, ls[CAST(u.i AS INT)] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM structured),
       unnest(range(1, len(ls) + 1)) AS u(i)
), lfp AS (
  SELECT doc_id, ln, line,
         CASE WHEN lower(trim(line)) = '' THEN NULL
              ELSE md5(lower(trim(line))) END AS f
  FROM lex
), lfreq AS (
  SELECT f FROM lfp WHERE f IS NOT NULL
  GROUP BY f HAVING COUNT(DISTINCT doc_id) >= 2
), ld AS MATERIALIZED (
  SELECT p.doc_id,
         COALESCE(string_agg(p.line, chr(10) ORDER BY p.ln)
                  FILTER (WHERE q.f IS NULL), '') AS text
  FROM lfp p LEFT JOIN lfreq q ON p.f = q.f
  GROUP BY p.doc_id
), d1 AS MATERIALIZED (
  SELECT ld.doc_id, d.lang, d.source, ld.text
  FROM ld JOIN documents d USING (doc_id)
), gsig AS (
  SELECT doc_id,
    CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
         ELSE CAST(length(regexp_replace(regexp_replace(text, '\s', '', 'g'),
                                         '[A-Za-z0-9]', '', 'g')) AS DOUBLE)
              / CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
    END AS punct_ratio,
    CASE WHEN length(trim(lower(text))) = 0 THEN 0.0
         ELSE CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x)))
                AS DOUBLE)
              / CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE)
    END AS stop_ratio,
    CASE WHEN length(trim(text)) = 0 THEN 0.0
         ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
    END AS n_tokd
  FROM d1
), glang AS (
  SELECT doc_id,
    CASE WHEN total_chars > 0
          AND CAST(cjk_chars AS DOUBLE) / CAST(total_chars AS DOUBLE) > 0.3 THEN 'zh'
         WHEN CAST(substr(enc, 1, 10) AS BIGINT) > 0 THEN substr(enc, 11, 2)
         ELSE 'und' END AS pred_lang
  FROM (
    SELECT doc_id,
      GREATEST(lpad(CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS VARCHAR), 10, '0') || 'en',
               lpad(CAST(len(list_filter(tl, x -> list_contains(['el','la','de','que','y','en','un','una','los','del'], x))) AS VARCHAR), 10, '0') || 'es',
               lpad(CAST(len(list_filter(tl, x -> list_contains(['der','die','das','und','nicht','ein','eine','ist','zu','mit'], x))) AS VARCHAR), 10, '0') || 'de',
               lpad(CAST(len(list_filter(tl, x -> list_contains(['le','la','les','de','des','et','un','une','est','dans'], x))) AS VARCHAR), 10, '0') || 'fr') AS enc,
      length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk_chars,
      length(regexp_replace(text, '\s', '', 'g')) AS total_chars
    FROM (
      SELECT doc_id, text,
             CASE WHEN length(trim(lower(text))) = 0 THEN []
                  ELSE string_split_regex(trim(lower(text)), '\s+') END AS tl
      FROM d1
    )
  )
), d2 AS MATERIALIZED (
  SELECT d1.* FROM d1
  JOIN gsig USING (doc_id) JOIN glang USING (doc_id)
  WHERE LEAST(n_tokd / 200.0, 1.0) * 0.4
          + (1.0 - LEAST(punct_ratio * 4.0, 1.0)) * 0.3
          + LEAST(stop_ratio * 4.0, 1.0) * 0.3 >= 0.45
    AND pred_lang <> 'und'
), d3 AS MATERIALIZED (
  SELECT doc_id, lang, source, text FROM (
    SELECT d2.*,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                   '\s+', ' ', 'g'))) AS fp
    FROM d2
  ) QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
), ntoks AS MATERIALIZED (
  SELECT doc_id, lang, source,
         list_distinct(string_split_regex(trim(lower(text)), '\s+')) AS t
  FROM d3
), npairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ntoks a JOIN ntoks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE CASE WHEN len(list_distinct(a.t || b.t)) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                  / CAST(len(list_distinct(a.t || b.t)) AS DOUBLE) END >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM npairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM npairs
), reach AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT e.src AS node, reach.r AS r
  FROM edges e JOIN reach ON e.dst = reach.node
), dropped AS (
  SELECT node FROM reach GROUP BY node HAVING MIN(r) <> node
), d4 AS MATERIALIZED (
  SELECT * FROM d3 WHERE doc_id NOT IN (SELECT node FROM dropped)
), dsh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
         END AS s
  FROM (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
    FROM d4
  )
), eval_sh AS MATERIALIZED (
  SELECT DISTINCT unnest(s) AS g FROM (
    SELECT doc_id,
           CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
                ELSE [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
           END AS s
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
      FROM documents WHERE doc_id % 97 = 0
    )
  )
), contam AS (
  SELECT DISTINCT dsh.doc_id
  FROM dsh, unnest(dsh.s) AS u(g)
  WHERE u.g IN (SELECT g FROM eval_sh)
), d5 AS MATERIALIZED (
  SELECT * FROM d4
  WHERE doc_id NOT IN (SELECT doc_id FROM contam) AND doc_id % 97 <> 0
), rfeats AS MATERIALIZED (
  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, unnest(ws) AS f FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS ws
      FROM d5
    )
    UNION ALL
    SELECT doc_id, ws[x+1] || ' ' || ws[x+2] AS f
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS ws
      FROM d5
    ), LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
    WHERE len(ws) >= 2
  )
), tfeats AS MATERIALIZED (
  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, unnest(ws) AS f FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS ws
      FROM documents WHERE doc_id % 101 = 0
    )
    UNION ALL
    SELECT doc_id, ws[x+1] || ' ' || ws[x+2] AS f
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS ws
      FROM documents WHERE doc_id % 101 = 0
    ), LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
    WHERE len(ws) >= 2
  )
), cr AS (SELECT bucket, COUNT(*) AS c_raw FROM rfeats GROUP BY bucket),
ct AS (SELECT bucket, COUNT(*) AS c_tgt FROM tfeats GROUP BY bucket),
tots AS (
  SELECT (SELECT COUNT(*) FROM rfeats) AS t_raw,
         (SELECT COUNT(*) FROM tfeats) AS t_tgt
), wtbl AS (
  SELECT coalesce(cr.bucket, ct.bucket) AS bucket,
    CAST(round(log10(
      (CAST(coalesce(ct.c_tgt, 0) + 1 AS DOUBLE) / CAST(t_tgt + 4096 AS DOUBLE))
      / (CAST(coalesce(cr.c_raw, 0) + 1 AS DOUBLE) / CAST(t_raw + 4096 AS DOUBLE))
    ) * 1000000000) AS BIGINT) AS lw_e9
  FROM cr FULL OUTER JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tots
), scored AS MATERIALIZED (
  SELECT f.doc_id, CAST(SUM(w.lw_e9) AS BIGINT) AS logw_e9
  FROM rfeats f JOIN wtbl w USING (bucket)
  GROUP BY f.doc_id
), rk AS (
  SELECT scored.*, cume_dist() OVER (ORDER BY logw_e9) AS cd FROM scored
), thr AS (
  SELECT MIN(CASE WHEN cd >= 0.75 THEN logw_e9 END) AS thr FROM rk
), d6 AS (
  SELECT d5.*, scored.logw_e9
  FROM d5 JOIN scored USING (doc_id) CROSS JOIN thr
  WHERE scored.logw_e9 > thr.thr
), packed AS MATERIALIZED (
  SELECT doc_id, lang, source, logw_e9, text, n_tok,
         b * 1099511627776
           + CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY b ORDER BY doc_id
                                          ROWS UNBOUNDED PRECEDING) - n_tok)
                        / 2000.0) AS BIGINT) AS shard_id
  FROM (
    SELECT d6.*,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tok,
           doc_id % 8 AS b
    FROM d6
  )
), btoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS t
  FROM packed WHERE trim(text) <> ''
), benc AS (
  SELECT doc_id, u.i AS pos, {bpe_expr} AS e
  FROM btoks, unnest(range(1, len(t) + 1)) AS u(i)
), bpe AS (
  SELECT doc_id,
         string_agg(replace(trim(e, '\x1f'), '\x1f\x1f', ' '), ' ' ORDER BY pos)
           AS bpe_text,
         CAST(SUM(len(string_split(e, '\x1f\x1f'))) AS BIGINT) AS n_bpe_tok
  FROM benc GROUP BY doc_id
)
SELECT p.doc_id, p.lang, p.source, p.n_tok, p.shard_id, p.logw_e9,
       b.n_bpe_tok, b.bpe_text
FROM packed p JOIN bpe b USING (doc_id)
"""


ORACLE_PIPE_CORPUS = _oracle_pipe_corpus()


def q_pipe_family(spark: SparkSession, sf: str) -> DataFrame:
    """PIPE-FAMILY (the driver's PIPE-DOCS): the two end-to-end pipeline
    compositions union-tagged — part='docs' is the §2-surface pipeline
    (q_pipe_docs: exact dedup → quality filter → near-dup prune →
    embedding-coverage join) and part='corpus' is the full training-data
    pipeline (q_pipe_corpus: line dedup → gates → exact+near dedup →
    decontam → DSIR+KLL → pack → BPE). Each stays a granular singleton
    with its own bench entry; the union puts BOTH compositions behind
    the driver's hash gate in one slot (COVERAGE.md)."""
    docs = q_pipe_docs(spark, sf).select(
        F.lit("docs").alias("part"),
        "doc_id", "lang", "source", "n_tokens", "quality", "has_embedding",
        F.lit(None).cast("long").alias("shard_id"),
        F.lit(None).cast("long").alias("logw_e9"),
        F.lit(None).cast("long").alias("n_bpe_tok"),
        F.lit(None).cast("string").alias("bpe_text"),
    )
    corpus = q_pipe_corpus(spark, sf).select(
        F.lit("corpus").alias("part"),
        "doc_id", "lang", "source",
        F.col("n_tok").alias("n_tokens"),
        F.lit(None).cast("double").alias("quality"),
        F.lit(None).cast("boolean").alias("has_embedding"),
        "shard_id", "logw_e9", "n_bpe_tok", "bpe_text",
    )
    return docs.unionByName(corpus)


ORACLE_PIPE_FAMILY = f"""
SELECT 'docs' AS part, doc_id, lang, source, n_tokens, quality,
       has_embedding, CAST(NULL AS BIGINT) AS shard_id,
       CAST(NULL AS BIGINT) AS logw_e9, CAST(NULL AS BIGINT) AS n_bpe_tok,
       CAST(NULL AS VARCHAR) AS bpe_text
FROM ({ORACLE_PIPE_DOCS}) pd
UNION ALL
SELECT 'corpus' AS part, doc_id, lang, source, n_tok AS n_tokens,
       CAST(NULL AS DOUBLE) AS quality, CAST(NULL AS BOOLEAN) AS has_embedding,
       shard_id, logw_e9, n_bpe_tok, bpe_text
FROM ({ORACLE_PIPE_CORPUS}) pc
"""
