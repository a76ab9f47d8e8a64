from __future__ import annotations

from ._shared import DataFrame, F, PII_PATTERNS, SparkSession, _cents, bpe_ish_token_count, clean_text, delta_pair, dim_join, fingerprint, hrs_to_sec, jira_ts, lang_id, load, mean_word_length, pack_shards, pct_change_abs, pct_diff, pii_counts, punct_ratio, quality_score, redact_pii, repetition_signals, split_corpus, stopword_ratio, token_count
from .core_relational import ORACLE_A_LINKED, ORACLE_E_GATE, ORACLE_E_ISOLATE, q_a_linked, q_e_gate, q_e_isolate
from .views_dedup_corpus import ORACLE_CORPUS_PACK, ORACLE_CORPUS_SPLIT, ORACLE_TEXT_CLEAN, ORACLE_WIN_SLIDE, ORACLE_WIN_TUMBLE, ORACLE_WIN_RESAMPLE, q_win_slide, q_win_tumble, q_win_resample
from .similarity_text import ORACLE_TEXT_FINGERPRINT, ORACLE_TEXT_LANGID, ORACLE_TEXT_QUALITY, ORACLE_TEXT_TOKENS



# ----------------------------------------------- combined registry entries
#
# The driver's correctness gate records a bounded number of entries (at
# most 50), so single-scan scalar ops that share a base table register as
# ONE wide query — each op keeps its own aliased column — and same-schema
# variant families union with a tag column.
# COVERAGE.md maps every SURVEY §2 / extension ID to its (entry, columns).
# Spark side stays a single scan per entry; the oracle composes the singleton
# oracle SQLs as CTE subqueries (DuckDB plan quality is irrelevant — it's the
# reference answer, not the engine).


def q_f_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """F-SCALAR: the lineitem scalar-function family in one scan — covers
    F-PCTCHG (pct_change), F-PCTDIFF (pct_diff), F-HRS2SEC (tax_seconds),
    and F-CAST (qty_int/linenumber_dbl/orderkey_str)."""
    li = load(spark, sf, "lineitem")
    discounted = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    taxed = F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pct_change_abs(F.col("l_extendedprice"), discounted).alias("pct_change"),
        pct_diff(F.col("l_extendedprice"), taxed).alias("pct_diff"),
        hrs_to_sec("l_tax").alias("tax_seconds"),
        F.floor("l_quantity").cast("long").alias("qty_int"),
        F.col("l_linenumber").cast("double").alias("linenumber_dbl"),
        F.col("l_orderkey").cast("string").alias("orderkey_str"),
    )


ORACLE_F_SCALAR = """
SELECT l_orderkey, l_linenumber,
       ABS((l_extendedprice * (1.0 - l_discount) - l_extendedprice)
           / ABS(l_extendedprice) * 100.0) AS pct_change,
       (l_extendedprice - l_extendedprice * (1.0 + l_tax))
         / ((l_extendedprice + l_extendedprice * (1.0 + l_tax)) / 2.0) * 100.0 AS pct_diff,
       COALESCE(l_tax, 0.0) * 3600.0 AS tax_seconds,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_int,
       CAST(l_linenumber AS DOUBLE) AS linenumber_dbl,
       CAST(l_orderkey AS VARCHAR) AS orderkey_str
FROM lineitem
"""


def q_f_customer(spark: SparkSession, sf: str) -> DataFrame:
    """F-CUSTOMER: customer-keyed scalar ops in one scan — covers F-DELTA
    (delta/delta_percentage with the falsy-zero rule) and F-CONCAT (tag)."""
    cust = load(spark, sf, "customer")
    actual = (F.col("c_custkey") % 100).cast("double")
    delta, delta_pct = delta_pair(F.col("c_acctbal"), actual)
    return cust.select(
        "c_custkey",
        delta.alias("delta"),
        delta_pct.alias("delta_percentage"),
        F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("tag"),
    )


ORACLE_F_CUSTOMER = """
SELECT c_custkey,
  CASE WHEN c_acctbal IS NULL OR c_acctbal = 0
         OR CAST(c_custkey % 100 AS DOUBLE) = 0 THEN NULL
       ELSE c_acctbal - CAST(c_custkey % 100 AS DOUBLE) END AS delta,
  CASE WHEN c_acctbal IS NULL OR c_acctbal = 0
         OR CAST(c_custkey % 100 AS DOUBLE) = 0 THEN NULL
       ELSE (c_acctbal - CAST(c_custkey % 100 AS DOUBLE))
            / ((c_acctbal + CAST(c_custkey % 100 AS DOUBLE)) / 2.0) * 100.0
  END AS delta_percentage,
  c_name || ':' || c_mktsegment AS tag
FROM customer
"""


def q_f_customer_wide(spark: SparkSession, sf: str) -> DataFrame:
    """F-CUSTOMER + A-LINKED: both live at customer grain, so one wide
    driver entry joins the scalar-function columns with the 0-on-empty
    linked rollup — one extra customer-keyed join, no change to either
    op's semantics."""
    return q_f_customer(spark, sf).join(q_a_linked(spark, sf), "c_custkey")


ORACLE_F_CUSTOMER_WIDE = f"""
WITH fc AS ({ORACLE_F_CUSTOMER}), al AS ({ORACLE_A_LINKED})
SELECT fc.c_custkey, fc.delta, fc.delta_percentage, fc.tag,
       al.linked_cents, al.n_orders
FROM fc JOIN al ON fc.c_custkey = al.c_custkey
"""


def q_f_orders(spark: SparkSession, sf: str) -> DataFrame:
    """F-ORDERS: orders-keyed serialization/formatting ops in one scan —
    covers F-TOJSON (payload), F-DATEFMT (formatted), F-TS-PARSE
    (jira_wire/parsed round trip)."""
    orders = load(spark, sf, "orders")
    wire = F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSS+0000")
    return orders.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            )
        ).alias("payload"),
        F.date_format("o_orderdate", "MM-dd-yyyy").alias("formatted"),
        wire.alias("jira_wire"),
        F.date_format(jira_ts(wire), "yyyy-MM-dd HH:mm:ss").alias("parsed"),
    )


ORACLE_F_ORDERS = """
SELECT o_orderkey,
       CAST(to_json(struct_pack(status := o_orderstatus, priority := o_orderpriority))
            AS VARCHAR) AS payload,
       strftime(o_orderdate, '%m-%d-%Y') AS formatted,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g+0000') AS jira_wire,
       strftime(strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g+0000'),
                         '%Y-%m-%dT%H:%M:%S.%g%z'),
                '%Y-%m-%d %H:%M:%S') AS parsed
FROM orders
"""


def q_f_events(spark: SparkSession, sf: str) -> DataFrame:
    """F-EVENTS: events-keyed JSON/null ops in one scan — covers P-NULLSAFE
    (k_val/missing_val null-safe nested access), F-FROMJSON (k_val typed
    extraction), F-COALESCE (event_kind default)."""
    ev = load(spark, sf, "events")
    parsed = F.from_json("props", "k long, missing string")
    return ev.select(
        "event_id",
        parsed["k"].alias("k_val"),
        parsed["missing"].alias("missing_val"),
        F.coalesce(
            F.nullif(F.col("event_type"), F.lit("click")), F.lit("was_click")
        ).alias("event_kind"),
    )


ORACLE_F_EVENTS = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       json_extract_string(props, '$.missing') AS missing_val,
       COALESCE(NULLIF(event_type, 'click'), 'was_click') AS event_kind
FROM events
"""


def q_e_audit(spark: SparkSession, sf: str) -> DataFrame:
    """E-AUDIT: the quality/audit family union-tagged — part='gate' covers
    E-GATE (n_before/n_after/loss_pct/passed), E-ISOLATE (n_ok/n_rejected),
    and A-COUNT (n_before IS the orders cardinality, etl.js:253); rows with
    part='profile' cover E-PROFILE (one-pass Deequ-style per-column
    completeness/cardinality/range/mean over orders, quality/profile.py —
    exact-distinct mode so the oracle can twin it; the 100 TB path flips
    ``approx_distinct=True`` for a plain HLL++ agg); rows with part='hll'
    cover SKETCH-HLL (operators/sketches.py: per-(user bucket, day)
    DataSketches HLL sketches of event_type, MERGED across days by sketch
    union, estimated per bucket — the build-once/union-endlessly distinct
    story. The per-bucket cardinality is tiny, so the sketches stay in
    exact coupon mode and the estimate hash-matches the oracle's exact
    COUNT(DISTINCT); the error-bound regime is pinned in
    tests/test_sketches.py); rows with part='theta' cover SKETCH-THETA
    (pairwise distinct-user overlap between event types via Theta-sketch
    set intersection — sketch-side set algebra, never a join over the
    events; exact below the sketch's retention bound, see
    q_sketch_theta); rows with part='freq' cover SKETCH-FREQ (per-day
    frequent-items sketches of event_type combined across days by sketch
    merge, operators/sketches.py freq_sketches — exact while the
    tracked-item budget exceeds the cardinality, so the oracle is a plain
    GROUP BY count; see q_sketch_freq).

    The profiled projection is hash-deterministic by construction: money
    as cents-BIGINT, timestamps pre-formatted to strings (see module-head
    rules); the gate sides are driver-built 1-row frames; coalesce(1)
    keeps their cross join at 1 task instead of default-parallelism²."""
    from ..quality.profile import profile_columns

    gate = (
        q_e_gate(spark, sf).coalesce(1).crossJoin(q_e_isolate(spark, sf).coalesce(1))
        .select(F.lit("gate").alias("part"), "*")
    )
    proj = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
    )
    prof = profile_columns(proj).select(F.lit("profile").alias("part"), "*")
    return (
        gate.unionByName(prof, allowMissingColumns=True)
        .unionByName(q_sketch_hll(spark, sf), allowMissingColumns=True)
        .unionByName(q_sketch_theta(spark, sf), allowMissingColumns=True)
        .unionByName(q_sketch_freq(spark, sf), allowMissingColumns=True)
    )


def q_sketch_hll(spark: SparkSession, sf: str) -> DataFrame:
    """SKETCH-HLL granular: daily event_type sketches per user bucket,
    merged across days by sketch union, estimated per bucket (coupon-mode
    exact — see q_e_audit)."""
    from ..operators.sketches import distinct_sketches, merge_sketches, with_estimate

    ev = load(spark, sf, "events").select(
        (F.col("user_id") % 16).alias("bucket"),
        F.to_date("ts").alias("d"),
        "event_type",
    )
    daily = distinct_sketches(ev, ["bucket", "d"], "event_type")
    return with_estimate(merge_sketches(daily, ["bucket"])).select(
        F.lit("hll").alias("part"),
        F.col("bucket").cast("string").alias("col_name"),
        F.col("n_distinct_est").alias("n_distinct"),
    )


ORACLE_SKETCH_HLL = """
SELECT 'hll' AS part, CAST(user_id % 16 AS VARCHAR) AS col_name,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct
FROM events GROUP BY user_id % 16
"""


def q_sketch_theta(spark: SparkSession, sf: str) -> DataFrame:
    """SKETCH-THETA granular: per-event-type Theta sketches of the
    distinct user set; pairwise intersection estimates via sketch set
    algebra (K² sketch-side rows, never a join over the events). The
    per-type user sets stay under the sketch's exact-retention bound at
    the correctness SFs, so the estimates hash-match the oracle's exact
    overlap counts; past retention (declared in ORACLE_REGIMES — e.g.
    the sf1 scale dir's 15k users/type > k=4096) the sweep records
    rows-only and the approximate regime is pinned in
    tests/test_sketches.py."""
    from ..operators.sketches import pairwise_overlap, theta_sketches

    ev = load(spark, sf, "events")
    th = theta_sketches(ev, ["event_type"], "user_id")
    return pairwise_overlap(th, "event_type").select(
        F.lit("theta").alias("part"),
        F.concat("key_a", F.lit("|"), "key_b").alias("col_name"),
        F.col("n_shared").alias("n_distinct"),
    )


def q_sketch_freq(spark: SparkSession, sf: str) -> DataFrame:
    """SKETCH-FREQ granular: frequent-items sketches of event_type built
    per day (``approx_top_k_accumulate``), COMBINED across days by sketch
    merge — never re-scanning the events — then read as (item, count)
    rows. Run in the EXACT regime: the tracked-item budget (1024) exceeds
    the event-type cardinality, so every count is exact and the oracle is
    a plain GROUP BY count; the capacity-pressure regime (heavy hitter
    survives a 64-slot budget against a 500-value tail) is pinned in
    tests/test_sketches.py."""
    from ..operators.sketches import freq_sketches, merge_freq_sketches, top_items

    ev = load(spark, sf, "events").select(F.to_date("ts").alias("d"), "event_type")
    daily = freq_sketches(ev, ["d"], "event_type", max_items=1024)
    merged = merge_freq_sketches(daily, [], max_items=1024)
    return top_items(merged, k=1024).select(
        F.lit("freq").alias("part"),
        F.col("item").alias("col_name"),
        F.col("n_est").alias("n_rows"),
    )


ORACLE_SKETCH_FREQ = """
SELECT 'freq' AS part, event_type AS col_name, COUNT(*) AS n_rows
FROM events GROUP BY event_type
"""


def q_sketch_kll(spark: SparkSession, sf: str) -> DataFrame:
    """SKETCH-KLL: per-event-type value quantiles (p25/p50/p75/p90/p99)
    read from mergeable KLL sketches — run in the EXACT regime: k=65535
    exceeds every per-group row count at the correctness and bench SFs
    (sf0.1 events ≈ 20k rows/type), so the sketch retains every item and
    each quantile equals the true order statistic under the DataSketches
    INCLUSIVE rank rule (smallest item whose ≤-rank fraction ≥ p). The
    oracle states that rule directly via cume_dist, hash-matching exactly;
    past retention the error-bound property tests in tests/test_sketches.py
    take over. Values are sketched as cents-BIGINTs (the family parity
    rule for double money columns)."""
    from ..operators.sketches import quantile_sketches, with_quantiles

    ev = load(spark, sf, "events").where(F.col("value").isNotNull())
    vals = ev.select("event_type", _cents("value").alias("cents"))
    sk = quantile_sketches(vals, ["event_type"], "cents", k=65535)
    return with_quantiles(sk, [0.25, 0.5, 0.75, 0.9, 0.99])


ORACLE_SKETCH_KLL = """
WITH v AS (
  SELECT event_type, CAST(round(value*100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, c,
         cume_dist() OVER (PARTITION BY event_type ORDER BY c) AS cd
  FROM v
)
SELECT event_type,
  MIN(CASE WHEN cd >= 0.25 THEN c END) AS p25,
  MIN(CASE WHEN cd >= 0.5 THEN c END) AS p50,
  MIN(CASE WHEN cd >= 0.75 THEN c END) AS p75,
  MIN(CASE WHEN cd >= 0.9 THEN c END) AS p90,
  MIN(CASE WHEN cd >= 0.99 THEN c END) AS p99
FROM r GROUP BY event_type
"""


def q_sketch_contam(spark: SparkSession, sf: str) -> DataFrame:
    """SKETCH-CONTAM: theta-sketch contamination scout — corpus↔eval
    8-gram overlap estimate without a join — run in its EXACT regime so
    the driver hash-checks it FULL-ORACLE: the doc_id%25 corpus slice
    and doc_id%40 eval slice each stay under the sketch's ~4k exact
    retention bound at the check SFs, where every theta estimate
    (counts AND intersection) equals the true distinct count, and
    containment is a ratio of exact-integer doubles. The past-retention
    estimating regime runs as the granular SKETCH-CONTAM-SCOUT
    (rows-only) and its decontaminate-parity test."""
    from ..operators.sketches import contamination_estimate

    docs = load(spark, sf, "documents")
    return contamination_estimate(
        docs.where("doc_id < 500 AND doc_id % 25 = 0"),
        docs.where("doc_id < 520 AND doc_id % 40 = 0"),
    )


ORACLE_SKETCH_CONTAM = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
         END AS s
  FROM toks
), c AS (
  SELECT DISTINCT unnest(s) AS g FROM sh
  WHERE doc_id < 500 AND doc_id % 25 = 0
), e AS (
  SELECT DISTINCT unnest(s) AS g FROM sh
  WHERE doc_id < 520 AND doc_id % 40 = 0
), n AS (
  SELECT (SELECT COUNT(*) FROM c) AS n_c, (SELECT COUNT(*) FROM e) AS n_e,
         (SELECT COUNT(*) FROM (SELECT g FROM c INTERSECT SELECT g FROM e)) AS n_s
)
SELECT n_c AS n_corpus_grams, n_e AS n_eval_grams, n_s AS n_shared_grams,
       CAST(n_s AS DOUBLE) / CAST(n_e AS DOUBLE) AS eval_containment
FROM n
"""


def q_sketch_contam_scout(spark: SparkSession, sf: str) -> DataFrame:
    """SKETCH-CONTAM-SCOUT granular (rows-only): the contamination scout
    in its ESTIMATING regime — whole corpus vs the doc_id%101 eval slice;
    the corpus-side sketch is past exact retention at bench SF, so the
    estimate has no SQL twin. Error bounds and exact-regime parity with
    corpus.decontaminate are pinned in tests/test_sketches.py."""
    from ..operators.sketches import contamination_estimate

    docs = load(spark, sf, "documents")
    return contamination_estimate(docs, docs.where("doc_id % 101 = 0"))


ORACLE_SKETCH_THETA = """
WITH t AS (SELECT DISTINCT event_type FROM events),
s AS (SELECT DISTINCT event_type, user_id FROM events),
ov AS (
  SELECT a.event_type AS ea, b.event_type AS eb, COUNT(*) AS c
  FROM s a JOIN s b USING (user_id)
  WHERE a.event_type < b.event_type GROUP BY 1, 2
)
SELECT 'theta' AS part, x.event_type || '|' || y.event_type AS col_name,
       CAST(coalesce(ov.c, 0) AS BIGINT) AS n_distinct
FROM t x JOIN t y ON x.event_type < y.event_type
LEFT JOIN ov ON ov.ea = x.event_type AND ov.eb = y.event_type
"""


def _profile_col_sql(c: str, mean: bool) -> str:
    mean_sql = (
        f"CAST(SUM({c}) AS DOUBLE)/COUNT({c})" if mean else "CAST(NULL AS DOUBLE)"
    )
    return f"""
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT({c}) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_val, CAST(MAX({c}) AS VARCHAR) AS max_val,
       {mean_sql} AS mean_val
FROM p"""


ORACLE_E_PROFILE = f"""
WITH p AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
         strftime(o_orderdate, '%Y-%m-%d') AS o_date
  FROM orders
)
{_profile_col_sql("o_orderkey", True)}
UNION ALL {_profile_col_sql("o_orderstatus", False)}
UNION ALL {_profile_col_sql("price_cents", True)}
UNION ALL {_profile_col_sql("o_date", False)}
"""

ORACLE_E_AUDIT = f"""
WITH g AS ({ORACLE_E_GATE}), i AS ({ORACLE_E_ISOLATE}), pr AS ({ORACLE_E_PROFILE}),
h AS ({ORACLE_SKETCH_HLL}), th AS ({ORACLE_SKETCH_THETA}), fr AS ({ORACLE_SKETCH_FREQ})
SELECT 'gate' AS part, g.n_before, g.n_after, g.loss_pct, g.passed,
       i.n_ok, i.n_rejected,
       CAST(NULL AS VARCHAR) AS col_name, CAST(NULL AS BIGINT) AS n_rows,
       CAST(NULL AS BIGINT) AS n_nulls, CAST(NULL AS BIGINT) AS n_distinct,
       CAST(NULL AS VARCHAR) AS min_val, CAST(NULL AS VARCHAR) AS max_val,
       CAST(NULL AS DOUBLE) AS mean_val
FROM g, i
UNION ALL
SELECT 'profile', NULL, NULL, NULL, NULL, NULL, NULL,
       col_name, n_rows, n_nulls, n_distinct, min_val, max_val, mean_val
FROM pr
UNION ALL
SELECT 'hll', NULL, NULL, NULL, NULL, NULL, NULL,
       col_name, NULL, NULL, n_distinct, NULL, NULL, NULL
FROM h
UNION ALL
SELECT 'theta', NULL, NULL, NULL, NULL, NULL, NULL,
       col_name, NULL, NULL, n_distinct, NULL, NULL, NULL
FROM th
UNION ALL
SELECT 'freq', NULL, NULL, NULL, NULL, NULL, NULL,
       col_name, n_rows, NULL, NULL, NULL, NULL, NULL
FROM fr
"""


def q_j_dim(spark: SparkSession, sf: str) -> DataFrame:
    """J-DIM: fact→dim LEFT broadcast joins, two dim roles union-tagged —
    covers J-DIM-REVIEWER (customer→nation) and J-DIM-PROJECT
    (nation→region). J-DIM-REPORTER (same dim role-played twice) keeps its
    own entry: its output is an aggregate, not a row-per-fact attach."""
    customer, nation = load(spark, sf, "customer"), load(spark, sf, "nation")
    reviewer = dim_join(
        customer,
        nation,
        customer["c_nationkey"] == nation["n_nationkey"],
        select=[
            F.lit("reviewer").alias("dim_role"),
            F.col("c_custkey").cast("long").alias("fact_id"),
            F.col("c_name").alias("fact_name"),
            F.col("n_name").alias("dim_name"),
        ],
    )
    nation2, region = load(spark, sf, "nation"), load(spark, sf, "region")
    project = dim_join(
        nation2,
        region,
        nation2["n_regionkey"] == region["r_regionkey"],
        select=[
            F.lit("project").alias("dim_role"),
            F.col("n_nationkey").cast("long").alias("fact_id"),
            F.col("n_name").alias("fact_name"),
            F.col("r_name").alias("dim_name"),
        ],
    )
    return reviewer.unionByName(project)


ORACLE_J_DIM = """
SELECT 'reviewer' AS dim_role, CAST(c_custkey AS BIGINT) AS fact_id,
       c_name AS fact_name, n_name AS dim_name
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
UNION ALL
SELECT 'project' AS dim_role, CAST(n_nationkey AS BIGINT) AS fact_id,
       n_name AS fact_name, r_name AS dim_name
FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
"""


def q_win_fixed(spark: SparkSession, sf: str) -> DataFrame:
    """WIN-FIXED: fixed-size event-time windows union-tagged — covers
    WIN-TUMBLE (1-day tumbling, keyed), WIN-SLIDE (1h/30m sliding), and
    WIN-RESAMPLE (hourly gap-filled resampling — empty buckets explicit,
    n_events 0-filled, value_cents honestly NULL; see q_win_resample)."""
    tumble = q_win_tumble(spark, sf).select(
        F.lit("tumble").alias("win_kind"),
        "window_start",
        "event_type",
        "n_events",
        "value_cents",
    )
    slide = q_win_slide(spark, sf).select(
        F.lit("slide").alias("win_kind"),
        "window_start",
        F.lit(None).cast("string").alias("event_type"),
        "n_events",
        F.lit(None).cast("long").alias("value_cents"),
    )
    resampled = q_win_resample(spark, sf).select(
        F.lit("resample").alias("win_kind"),
        "window_start", "event_type", "n_events", "value_cents",
    )
    return tumble.unionByName(slide).unionByName(resampled)


ORACLE_WIN_FIXED = f"""
SELECT 'tumble' AS win_kind, window_start, event_type, n_events, value_cents
FROM ({ORACLE_WIN_TUMBLE})
UNION ALL
SELECT 'slide' AS win_kind, window_start, CAST(NULL AS VARCHAR) AS event_type,
       n_events, CAST(NULL AS BIGINT) AS value_cents
FROM ({ORACLE_WIN_SLIDE})
UNION ALL
SELECT 'resample' AS win_kind, window_start, event_type, n_events, value_cents
FROM ({ORACLE_WIN_RESAMPLE})
"""


def q_corpus_assign(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-ASSIGN: per-doc corpus assignments in one chained plan —
    covers CORPUS-SPLIT (split), CORPUS-PACK (n_tok/shard_id), CORPUS-MIX
    (in_mix: domain-weighted subsample to a token budget, md5-shuffled
    selection order), CORPUS-SAMPLE (in_sample: deterministic
    exact-fraction stratified sample per source), and CORPUS-EPOCH
    (epoch_pos: seeded global training order via distributed rank —
    bucket-by-hash-prefix + offsets, no single-partition sort), and
    CORPUS-DSIR (dsir_feats/dsir_logw_e9: DSIR importance weights vs the
    doc_id%101 target slice, exact nano-BIGINT sums; see q_corpus_dsir —
    empty docs carry NULLs), and CORPUS-NOVELTY (n_grams8/n_shared8/
    novelty: cross-document 8-gram redundancy — exact integer counts, one
    IEEE division)."""
    from ..operators.corpus import (
        epoch_order,
        mix_sources,
        novelty_signals,
        stratified_sample,
    )

    docs = load(spark, sf, "documents")
    s = split_corpus(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    packed = pack_shards(
        s.withColumn("n_tok", token_count("text")), "n_tok", 2000, num_buckets=8
    )
    mixed = mix_sources(
        docs.withColumn("n_tok", token_count("text")),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
        total_tokens=1500,
        token_col="n_tok",
    ).select("doc_id", F.lit(True).alias("in_mix"))
    sampled = stratified_sample(docs.select("doc_id", "source"), "source", 0.2).select(
        "doc_id", F.lit(True).alias("in_sample")
    )
    epochs = epoch_order(docs.select("doc_id"), seed=0).select("doc_id", "epoch_pos")
    dsir = q_corpus_dsir(spark, sf).select(
        "doc_id",
        F.col("n_feats").alias("dsir_feats"),
        F.col("logw_e9").alias("dsir_logw_e9"),
    )
    nov = novelty_signals(docs).select(
        "doc_id",
        F.col("n_grams").alias("n_grams8"),
        F.col("n_shared").alias("n_shared8"),
        "novelty",
    )
    return (
        packed.join(mixed, "doc_id", "left")
        .join(sampled, "doc_id", "left")
        .join(epochs, "doc_id")
        .join(dsir, "doc_id", "left")
        .join(nov, "doc_id")
        .select(
            "doc_id", "split", "n_tok", "shard_id",
            F.coalesce(F.col("in_mix"), F.lit(False)).alias("in_mix"),
            F.coalesce(F.col("in_sample"), F.lit(False)).alias("in_sample"),
            "epoch_pos", "dsir_feats", "dsir_logw_e9",
            "n_grams8", "n_shared8", "novelty",
        )
    )


def q_corpus_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-NOVELTY granular: cross-document 8-gram novelty per doc
    (RefinedWeb-style corpus-redundancy signal). Counts are exact
    integers and the score is one IEEE division of exact longs — the
    oracle hash-matches bit-for-bit; the md5 gram hashing is a pure
    shuffle-width optimization (identical strings ⇒ identical hashes ⇒
    identical counts)."""
    from ..operators.corpus import novelty_signals

    return novelty_signals(load(spark, sf, "documents")).orderBy("doc_id")


ORACLE_CORPUS_NOVELTY = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
              ELSE [array_to_string(t[i:i+7], ' ') FOR i IN range(1, len(t) - 6)]
         END AS s
  FROM toks
), g AS (
  SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(s) AS g FROM sh)
), c AS (
  SELECT g, COUNT(*) AS nd FROM g GROUP BY g
)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       COUNT(*) FILTER (WHERE c.nd >= 2) AS n_shared,
       CAST(COUNT(*) - COUNT(*) FILTER (WHERE c.nd >= 2) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM g JOIN c USING (g)
GROUP BY g.doc_id
ORDER BY doc_id
"""


def q_corpus_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-DSIR granular: DSIR importance weights (operators/corpus.py
    dsir_weights, Xie et al. 2023) of every non-empty document against the
    deterministic doc_id%101 target slice — hashed uni+bigram feature bag,
    broadcast DSIR_BUCKETS-row weight table, exact nano-BIGINT log-weight
    sums. Full oracle: the md5-prefix bucket hash and the single
    log10-of-ratio expression are stated verbatim in ANSI SQL."""
    from ..operators.corpus import dsir_weights

    docs = load(spark, sf, "documents")
    return dsir_weights(docs, docs.where(F.col("doc_id") % 101 == 0))


ORACLE_CORPUS_DSIR = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS ws
  FROM documents
),
feats AS (
  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS bucket
  FROM (
    SELECT doc_id, unnest(ws) AS f FROM toks
    UNION ALL
    SELECT doc_id, ws[x+1] || ' ' || ws[x+2] AS f
    FROM toks, LATERAL (SELECT unnest(range(len(ws)-1)) AS x)
    WHERE len(ws) >= 2
  )
),
tgt AS (SELECT * FROM feats WHERE doc_id % 101 = 0),
cr AS (SELECT bucket, COUNT(*) AS c_raw FROM feats GROUP BY bucket),
ct AS (SELECT bucket, COUNT(*) AS c_tgt FROM tgt GROUP BY bucket),
tots AS (
  SELECT (SELECT COUNT(*) FROM feats) AS t_raw,
         (SELECT COUNT(*) FROM tgt) AS t_tgt
),
w AS (
  SELECT coalesce(cr.bucket, ct.bucket) AS bucket,
    CAST(round(log10(
      (CAST(coalesce(ct.c_tgt, 0) + 1 AS DOUBLE) / CAST(t_tgt + 4096 AS DOUBLE))
      / (CAST(coalesce(cr.c_raw, 0) + 1 AS DOUBLE) / CAST(t_raw + 4096 AS DOUBLE))
    ) * 1000000000) AS BIGINT) AS lw_e9
  FROM cr FULL OUTER JOIN ct ON cr.bucket = ct.bucket CROSS JOIN tots
)
SELECT f.doc_id, COUNT(*) AS n_feats, CAST(SUM(w.lw_e9) AS BIGINT) AS logw_e9,
       CAST(SUM(w.lw_e9) AS DOUBLE) / 1000000000 / CAST(COUNT(*) AS DOUBLE) AS avg_logw
FROM feats f JOIN w USING (bucket)
GROUP BY f.doc_id
"""


def q_corpus_packseq(spark: SparkSession, sf: str) -> DataFrame:
    """CORPUS-PACKSEQ granular (rows-only): SPFHP sequence packing
    (operators/corpus.py pack_sequences, Krell et al. 2021) of the
    documents into 256-token training packs. The pack strategy is a
    driver-side solve over the bounded length histogram — no ANSI SQL
    reproduces it, so there is no value oracle; validity invariants
    (every doc exactly once, no pack over cap, ≥90% packing efficiency,
    partitioning invariance) are pinned in tests/test_pack_sequences.py."""
    from ..operators.corpus import pack_sequences
    from ..operators.text import token_count

    docs = load(spark, sf, "documents").select(
        "doc_id", token_count("text").alias("n_tok")
    )
    return pack_sequences(docs, "n_tok", 256).orderBy("doc_id")


def q_quality_kllgate(spark: SparkSession, sf: str) -> DataFrame:
    """QUALITY-KLLGATE granular: score-based selection at scale — DSIR
    importance weights gated to the top 25% by ``threshold_filter``
    (operators/sketches.py): a KLL sketch of the score distribution
    yields the cut, so selection is one aggregate + broadcast attach +
    filter, never a global sort. Run in the KLL EXACT regime (k=65535 ≥
    corpus rows at check SFs), where the threshold equals the true order
    statistic under the INCLUSIVE rank rule — the oracle states that
    rule via cume_dist over the same DSIR CTE and hash-matches."""
    from ..operators.sketches import threshold_filter

    return threshold_filter(q_corpus_dsir(spark, sf), "logw_e9", keep_frac=0.25)


ORACLE_QUALITY_KLLGATE = f"""
WITH d AS ({ORACLE_CORPUS_DSIR}),
r AS (SELECT d.*, cume_dist() OVER (ORDER BY logw_e9) AS cd FROM d),
t AS (SELECT MIN(CASE WHEN cd >= 0.75 THEN logw_e9 END) AS thr FROM r)
SELECT doc_id, n_feats, logw_e9, avg_logw FROM d, t WHERE logw_e9 > thr
"""


ORACLE_CORPUS_ASSIGN = f"""
WITH s AS ({ORACLE_CORPUS_SPLIT}), p AS ({ORACLE_CORPUS_PACK}),
tok AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tok
  FROM documents
),
m AS (
  SELECT doc_id FROM (
    SELECT t.doc_id, t.n_tok, b.budget,
           SUM(t.n_tok) OVER (PARTITION BY t.source
                              ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
                              ROWS UNBOUNDED PRECEDING) - t.n_tok AS cb
    FROM tok t
    JOIN (VALUES ('src0', 750.0), ('src1', 450.0), ('src2', 300.0)) b(source, budget)
      USING (source)
  ) WHERE cb < budget
),
samp AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM documents
  ) WHERE rn <= CEIL(CAST(0.2 AS DOUBLE) * n)
),
ep AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id)
           - 1 AS epoch_pos
  FROM documents
)
SELECT s.doc_id, s.split, p.n_tok, p.shard_id, (m.doc_id IS NOT NULL) AS in_mix,
       (samp.doc_id IS NOT NULL) AS in_sample, ep.epoch_pos,
       d.n_feats AS dsir_feats, d.logw_e9 AS dsir_logw_e9,
       nv.n_grams AS n_grams8, nv.n_shared AS n_shared8, nv.novelty
FROM s JOIN p ON s.doc_id = p.doc_id LEFT JOIN m ON s.doc_id = m.doc_id
LEFT JOIN samp ON s.doc_id = samp.doc_id
JOIN ep ON s.doc_id = ep.doc_id
LEFT JOIN ({ORACLE_CORPUS_DSIR}) d ON s.doc_id = d.doc_id
JOIN ({ORACLE_CORPUS_NOVELTY}) nv ON s.doc_id = nv.doc_id
"""


def q_text_profile(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-PROFILE: the per-document text-analysis family — covers
    TEXT-TOKENS (n_tokens/n_bpe_tokens/n_chars_calc), TEXT-QUALITY
    (punct_ratio/stop_ratio/mean_word_len/quality), TEXT-LANGID
    (pred_lang), TEXT-FINGERPRINT (fp), TEXT-CLEAN (clean/n_dirty/n_clean),
    TEXT-PII (redacted/pii_* counts over synthetically PII-laced text —
    the raw corpus contains none by construction), and TEXT-REPETITION
    (Gopher-style top{2,3}_frac / dup{2,5}_frac word-n-gram repetition
    mass), and TEXT-BM25 (bm25: classic BM25 score of every doc against a
    fixed 3-term query). The whole family is ONE scan: repetition is a
    zero-shuffle per-doc fold, BM25's corpus stats are a single-row
    aggregate broadcast back with a cross join, and every scalar column
    is a codegen'd expression in the same projection — no id-keyed
    self-joins anywhere. TEXT-WINNOW stays separate (row-exploding
    fingerprint stream)."""
    from ..operators.search import bm25_scores

    # spread the one-row-group bench corpus before the CPU-dense
    # projections (see q_text_repetition); free at real input-split counts
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    scored = bm25_scores(docs, list(BM25_TERMS), carry=["doc_id", "lang", "text"])
    enriched = repetition_signals(
        scored, top_ns=(2, 3), dup_ns=(2, 5),
        carry=["doc_id", "lang", "text", "bm25"],
    )
    dirty = F.concat(
        F.lit('<p id="x">'), F.col("text"), F.lit("</p> &amp; &lt;b&gt; \t")
    )
    cleaned = clean_text(dirty)
    pii_src = F.concat(
        F.col("text"),
        F.lit(" doc"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com +1 555-123-4567 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    return enriched.select(
        "doc_id",
        "lang",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio("text").alias("stop_ratio"),
        mean_word_length("text").alias("mean_word_len"),
        quality_score("text").alias("quality"),
        lang_id("text").alias("pred_lang"),
        fingerprint("text").alias("fp"),
        cleaned.alias("clean"),
        F.length(dirty).cast("long").alias("n_dirty"),
        F.length(cleaned).cast("long").alias("n_clean"),
        redact_pii(pii_src).alias("redacted"),
        *pii_counts(pii_src),
        "top2_frac",
        "top3_frac",
        "dup2_frac",
        "dup5_frac",
        # ln() is not correctly-rounded identically across JVM libm and
        # DuckDB (1-ulp spread), so the driver-compared column quantizes
        # to 9 dp on both sides; the operator itself returns full
        # precision.
        F.round("bm25", 9).alias("bm25"),
    )



_PII_SRC_SQL = (
    "text || ' doc' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com +1 555-123-4567 10.0.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR)"
)
_pii_red_sql = "ps"
for _k, _pat in PII_PATTERNS:
    _pii_red_sql = f"regexp_replace({_pii_red_sql}, '{_pat}', '[PII]', 'g')"
_pii_cnt_sql = ", ".join(
    f"CAST(len(regexp_extract_all(ps, '{_pat}')) AS BIGINT) AS pii_{_k}"
    for _k, _pat in PII_PATTERNS
)
ORACLE_TEXT_PII = f"""
SELECT doc_id, {_pii_red_sql} AS redacted, {_pii_cnt_sql}
FROM (SELECT doc_id, {_PII_SRC_SQL} AS ps FROM documents)
"""

# TEXT-REPETITION oracle: strict word n-grams per doc (no short-doc
# fallback), top mass = character mass of the argmax-by-count gram (the
# Gopher A1.1 statistic; struct-max (cnt, mass, gram) makes the argmax
# deterministic, and an equal-mass tie cannot change the emitted mass),
# dup mass = SUM over grams with cnt >= 2.
ORACLE_TEXT_REPETITION = """
WITH w AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id, n_chars, ns.n,
         array_to_string(ws[i.g:i.g+ns.n-1], ' ') AS gram
  FROM w, (VALUES (2),(3),(5)) ns(n),
       LATERAL unnest(generate_series(1, len(ws)-ns.n+1)) i(g)
),
c AS (SELECT doc_id, n_chars, n, gram, COUNT(*) AS cnt FROM g GROUP BY ALL),
a AS (
  SELECT doc_id, n_chars,
    (MAX(CASE WHEN n=2 THEN struct_pack(
        c := cnt, m := cnt*length(gram), g := gram) END)).m AS t2,
    (MAX(CASE WHEN n=3 THEN struct_pack(
        c := cnt, m := cnt*length(gram), g := gram) END)).m AS t3,
    SUM(CASE WHEN n=2 AND cnt>=2 THEN cnt*length(gram) END) AS d2,
    SUM(CASE WHEN n=5 AND cnt>=2 THEN cnt*length(gram) END) AS d5
  FROM c GROUP BY doc_id, n_chars
)
SELECT d.doc_id,
  CASE WHEN coalesce(a.n_chars,0)=0 THEN 0.0
       ELSE CAST(coalesce(t2,0) AS DOUBLE)/a.n_chars END AS top2_frac,
  CASE WHEN coalesce(a.n_chars,0)=0 THEN 0.0
       ELSE CAST(coalesce(t3,0) AS DOUBLE)/a.n_chars END AS top3_frac,
  CASE WHEN coalesce(a.n_chars,0)=0 THEN 0.0
       ELSE CAST(coalesce(d2,0) AS DOUBLE)/a.n_chars END AS dup2_frac,
  CASE WHEN coalesce(a.n_chars,0)=0 THEN 0.0
       ELSE CAST(coalesce(d5,0) AS DOUBLE)/a.n_chars END AS dup5_frac
FROM documents d LEFT JOIN a USING (doc_id)
"""

# TEXT-BM25 oracle: mirrors bm25_scores' expression tree exactly —
# per-term doubles derived from exact longs (tf, dl, df, N), summed in
# fixed term order; float literals are repr()s of the same Python-
# computed values the Spark side uses, so both engines parse identical
# doubles and evaluate the same IEEE operation order.
BM25_TERMS = ("spark", "join", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle(terms=BM25_TERMS, k1=_BM25_K1, b=_BM25_B) -> str:
    ws = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
    tf_cols = ", ".join(
        f"CAST(len(list_filter({ws}, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    term_exprs = []
    for i in range(len(terms)):
        idf = f"ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        # the dl/avgdl ratio is guarded (and parenthesized) exactly like
        # the Spark side: b * (ratio), not (b * dl) / avgdl — same IEEE
        # operation order, and a degenerate all-empty corpus scores 0.0
        norm = (
            f"{k1!r} * (1.0 - {b!r} + {b!r} * (CASE WHEN sumdl = 0 THEN 0.0 "
            f"ELSE CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)) END))"
        )
        # tf = 0 short-circuits to 0.0 on both sides (Spark mirrors this
        # CASE): same value as evaluating the expression when norm > 0,
        # and it keeps b=1.0 / empty-doc inputs out of 0/0 territory
        term_exprs.append(
            f"CASE WHEN tf{i} = 0 THEN 0.0 ELSE "
            f"{idf} * CAST(tf{i} AS DOUBLE) * {k1 + 1.0!r} / (CAST(tf{i} AS DOUBLE) + {norm}) END"
        )
    score = " + ".join(term_exprs)
    # round(, 9): ln() differs by 1 ulp between JVM libm and DuckDB — see
    # the Spark-side note in q_text_profile
    return f"""
SELECT doc_id, round({score}, 9) AS bm25
FROM (SELECT doc_id, CAST(len({ws}) AS BIGINT) AS dl, {tf_cols} FROM documents) base,
     (SELECT COUNT(*) AS n, SUM(dl) AS sumdl, {df_cols}
      FROM (SELECT CAST(len({ws}) AS BIGINT) AS dl, {tf_cols} FROM documents)) stats
"""


ORACLE_TEXT_BM25 = _bm25_oracle()

ORACLE_TEXT_PROFILE = f"""
WITH t_tok AS MATERIALIZED ({ORACLE_TEXT_TOKENS}),
t_q AS MATERIALIZED ({ORACLE_TEXT_QUALITY}),
t_l AS MATERIALIZED ({ORACLE_TEXT_LANGID}),
t_f AS MATERIALIZED ({ORACLE_TEXT_FINGERPRINT}),
t_c AS MATERIALIZED ({ORACLE_TEXT_CLEAN}),
t_p AS MATERIALIZED ({ORACLE_TEXT_PII}),
t_r AS MATERIALIZED ({ORACLE_TEXT_REPETITION}),
t_b AS MATERIALIZED ({ORACLE_TEXT_BM25})
SELECT t_tok.doc_id, t_l.lang, t_tok.n_tokens, t_tok.n_bpe_tokens,
       t_tok.n_chars_calc, t_q.punct_ratio, t_q.stop_ratio, t_q.mean_word_len,
       t_q.quality, t_l.pred_lang, t_f.fp, t_c.clean, t_c.n_dirty, t_c.n_clean,
       t_p.redacted, t_p.pii_email, t_p.pii_ip, t_p.pii_phone,
       t_r.top2_frac, t_r.top3_frac, t_r.dup2_frac, t_r.dup5_frac, t_b.bm25
FROM t_tok
JOIN t_q ON t_tok.doc_id = t_q.doc_id
JOIN t_l ON t_tok.doc_id = t_l.doc_id
JOIN t_f ON t_tok.doc_id = t_f.doc_id
JOIN t_c ON t_tok.doc_id = t_c.doc_id
JOIN t_p ON t_tok.doc_id = t_p.doc_id
JOIN t_r ON t_tok.doc_id = t_r.doc_id
JOIN t_b ON t_tok.doc_id = t_b.doc_id
"""


def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-REPETITION granular: Gopher-style repetition mass per doc.

    The fold is zero-shuffle and CPU-dense, so parallelism equals input
    splits; the bench corpus is ONE unsplittable row group, which would
    serialize the whole operator on one core. Spreading a ~MB input
    first is a negligible shuffle; a 100 TB corpus has thousands of
    splits and skips this."""
    docs = load(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # the vectorized twin (r10): same values as repetition_signals
    # (parity-pinned; the relational form remains the oracle-shaped
    # formulation), ~3.6× faster — the TEXT-WINNOW precedent
    from ..operators.text import repetition_signals_arrow

    return repetition_signals_arrow(docs, top_ns=(2, 3), dup_ns=(2, 5))


def q_e_profile(spark: SparkSession, sf: str) -> DataFrame:
    """E-PROFILE granular: one-pass column profiling of the deterministic
    orders projection (see q_e_audit for the hash rules)."""
    from ..quality.profile import profile_columns

    proj = load(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
    )
    return profile_columns(proj)


def q_text_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-BM25 granular: every doc scored against the fixed query
    (rounded to 9 dp — see the ln() note in q_text_profile)."""
    from ..operators.search import bm25_scores

    return bm25_scores(load(spark, sf, "documents"), list(BM25_TERMS)).select(
        "doc_id", F.round("bm25", 9).alias("bm25")
    )


def q_text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-BM25-TOPK's part='bm25': top-10 retrieval for the fixed query.
    Ranks over the 9-dp-ROUNDED score (ties broken by doc_id) so both
    engines order identical values — full-precision order could differ
    across engines exactly where two scores round together (see the ln()
    note in q_text_profile). Executes as TakeOrderedAndProject
    (plan-asserted for ``search._ranked_take`` in tests/test_search.py);
    rank comes from the sorted k-row array, no window."""
    from ..operators.search import _ranked_take, bm25_scores

    scored = bm25_scores(load(spark, sf, "documents"), list(BM25_TERMS)).select(
        "doc_id", F.round("bm25", 9).alias("bm25")
    )
    return _ranked_take(scored, "bm25", "doc_id", 10)


ORACLE_TEXT_BM25_TOPK = f"""
SELECT doc_id, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
FROM ({_bm25_oracle()})
ORDER BY bm25 DESC, doc_id LIMIT 10
"""


def q_search_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """SEARCH-RRF granular: hybrid retrieval — the fixed BM25 query's
    top-20 (ranked over 9-dp-rounded scores, the family's engine-stable
    ordering) fused with the vec_id=0 embedding query's exact-cosine
    top-20 via Reciprocal Rank Fusion (k=60), final top-10. The fused
    score is a fixed-order sum of 1/(60+rank) doubles from exact integer
    ranks — bit-stable, so the oracle hash-matches; cosine ranks are
    bit-equal per the SIM-TOPK discipline."""
    from ..operators.search import _ranked_take, bm25_scores, rrf_fuse
    from ..operators.similarity import cosine_topk

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    scored = bm25_scores(docs, list(BM25_TERMS)).select(
        "doc_id", F.round("bm25", 9).alias("bm25")
    )
    bm = _ranked_take(scored, "bm25", "doc_id", 20).select("doc_id", "rank")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cs = cosine_topk(emb, qv, k=20).select(F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse([bm, cs], id_col="doc_id", k=60, topk=10)


ORACLE_SEARCH_RRF = f"""
WITH bmscore AS ({_bm25_oracle()}),
bm AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r
       FROM bmscore ORDER BY bm25 DESC, doc_id LIMIT 20),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cscored AS (
  SELECT c.vec_id AS cid,
    list_sum(list_transform(range(1, len(c.embedding) + 1),
      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
       i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) *
     sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
       i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) AS cos_sim
  FROM embeddings c CROSS JOIN q WHERE c.vec_id != 0
),
cs AS (SELECT cid, CAST(row_number() OVER (ORDER BY cos_sim DESC, cid) AS BIGINT) AS r
       FROM cscored ORDER BY cos_sim DESC, cid LIMIT 20),
fused AS (
  SELECT COALESCE(bm.doc_id, cs.cid) AS doc_id,
         COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(bm.r AS DOUBLE)),
                  CAST(0.0 AS DOUBLE))
       + COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + CAST(cs.r AS DOUBLE)),
                  CAST(0.0 AS DOUBLE)) AS rrf
  FROM bm FULL OUTER JOIN cs ON bm.doc_id = cs.cid
)
SELECT doc_id, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
"""


def q_search_suite(spark: SparkSession, sf: str) -> DataFrame:
    """TEXT-BM25-TOPK (driver combined entry): ``part='bm25'`` is the
    classic top-10 retrieval, ``part='rrf'`` the hybrid BM25+cosine RRF
    fusion (see q_search_rrf) — one entry verifies both retrieval
    surfaces, keeping the driver registry at 50."""
    bm = q_text_bm25_topk(spark, sf).select(
        F.lit("bm25").alias("part"), "doc_id", F.col("bm25").alias("score"), "rank"
    )
    rrf = q_search_rrf(spark, sf).select(
        F.lit("rrf").alias("part"), "doc_id", F.col("rrf").alias("score"), "rank"
    )
    return bm.unionByName(rrf)


ORACLE_SEARCH_SUITE = f"""
SELECT 'bm25' AS part, doc_id, bm25 AS score, rank FROM ({ORACLE_TEXT_BM25_TOPK})
UNION ALL
SELECT 'rrf' AS part, doc_id, rrf AS score, rank FROM ({ORACLE_SEARCH_RRF})
"""
