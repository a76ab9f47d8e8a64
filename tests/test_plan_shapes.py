"""Plan-shape regression pins for the headline queries.

A query whose RESULTS stay correct can still quietly regress its PLAN —
an extra Exchange from a lost broadcast hint, a Python stage from an
accidental UDF, a scan that stops pruning. These tests pin upper bounds
on Exchange counts (and forbid row-at-a-time Python anywhere) so plan
regressions fail CI instead of surfacing as a 100 TB incident.

Bounds are UPPER bounds, not exact pins: AQE and stats-based broadcast
decisions may legitimately remove exchanges, never add them. Counted on
the pre-execution physical plan at sf0.001 (plan shapes here don't
depend on scale factor; broadcast-threshold decisions are identical for
all local SFs).
"""

from __future__ import annotations

import re

import pytest

from feasibility_etl_spark.driver_queries import ALL_QUERIES
from feasibility_etl_spark.flagship import flagship
from workloads import MIX_IDS  # the perfbench query-mix ids

SF = "/root/testdata/sf0.001"

#: name -> max allowed Exchange nodes in the physical plan. Counts only
#: shuffle Exchanges (\bExchange\b does not match BroadcastExchange), so
#: a lost broadcast hint shows up as a count increase. Every bench entry
#: is pinned; values are the measured round-4 plans (comments say what
#: the shuffles ARE, so a legit plan change can be re-justified here).
MAX_EXCHANGES = {
    "FLAGSHIP": 2,        # one agg + one join shuffle; dims broadcast
    "VIEW-IDIOMATIC": 0,  # 1 fact scan, all dims broadcast
    "VIEW-CTE": 4,        # reference-faithful 3-CTE shape (idiomatic twin is 0)
    "J-DIM-REPORTER": 1,  # nation-pair rollup agg; all joins broadcast
    "J-ATTACH": 1,
    "J-ASOF": 2,          # union + carry-forward window, no interval explosion
    "J-RANGE": 1,         # bucketed equi-join, no nested loop
    "J-SALTED": 0,        # salted broadcast join: zero shuffles by design
    "A-WORKLOG": 1,
    "A-COLLECT": 1,       # per-key collect agg
    "A-PIVOT": 3,         # one conditional-agg pass (explicit pivot
                          # values — no distinct scan of the pivot col)
                          # + the entry's presentation orderBy range
                          # partitioning
    "WIN-SESSION": 1,     # one key-partitioned window chain
    "WIN-SLIDE": 1,
    "WIN-RESAMPLE": 2,    # bucket agg + per-key bounds agg; the spine
                          # join reuses the agg's (key, bucket) keying
    "SCD2-APPLY": 5,      # shared-key windows + current-join + close agg + union
    "DEDUP-EXACT": 1,     # fingerprint groupBy only
    "DEDUP-NGRAM": 13,    # ADAPTIVE candidate stage (round 7, PERF-NOTES
                          # 31): the round-6 prefix plan (8 — sizes agg +
                          # per-block df agg + doc window + prefix
                          # self-join + candidate distinct + 2 verify
                          # joins + final size join) + the block-cost agg
                          # and the all-pairs BRANCH of the union (its
                          # own self-join exchanges). Exactly one branch
                          # carries rows per block at runtime; AQE no-ops
                          # the empty side's exchanges, so the static
                          # count grows but the executed shuffle bytes
                          # don't. toks/sizes/df_tok persist → plan_id
                          # count
    "DEDUP-MINHASH": 3,   # sig agg + banded self-join + verify
    "DEDUP-PRUNE": 16,    # 13 pair-stage + 1 union-find merge + 2 prune anti-join
    "DEDUP-SUBSTRING": 4, # r12 re-pin (was 3): the decide-small/rebuild-
                          # map-side restructure keys the gram window (1
                          # exchange) + per-doc starts agg (1); the static
                          # dump repeats that subtree once per union
                          # branch (clean JVM / dirty mapInPandas) = 4,
                          # but the EXECUTED plan reuses it — verified:
                          # final AQE plan runs 2 hash exchanges, branch 2
                          # reads ReusedExchange of the starts shuffle.
                          # Entry runtime 4.33 → 2.51 s (commit d1c96e2)
    "DEDUP-INCR": 10,     # two per-half sig aggs + candidate distinct + ordered
                          # output; serve joins are broadcast (hinted)
    "DEDUP-FUZZY": 1,     # bucketed (token, band) equi-join, no cartesian
    "CORPUS-PACK": 1,     # bucket-windowed cumsum, no global sort
    "CORPUS-SAMPLEK": 2,  # one stratum-partitioned rank window + the
                          # entry's presentation orderBy
    "CORPUS-CONTAMSCORE": 3,  # eval-gram distinct + per-doc rollup +
                              # presentation orderBy; the tag join is a
                              # broadcast over the gram stream
    "CORPUS-NOVELTY": 3,  # per-gram window count + per-doc rollup (the
                          # gram stream shuffles as (id, md5) pairs only)
                          # + the entry's presentation orderBy
    "CORPUS-DECONTAM": 2, # gram explode + semi-join (eval side broadcast)
    "CORPUS-DECONTAM-BLOOM": 7,  # exact's 2 (eval-gram distinct +
                          # contaminated distinct) + the bloom build's aggs
                          # (word bit_or, dense union agg, round-8 segment
                          # agg — the PARALLEL per-segment sort that replaced
                          # the single-task m/32-struct sort, PERF-NOTES 36 —
                          # and 1-row pack) — all
                          # eval-scale; the corpus gram stream meets a
                          # broadcast bloom filter + the exact-verify
                          # semi-join, whose strategy is AQE/stats-DECIDED
                          # since r8 (the static eval-grams hint was
                          # removed — sketches.py:578): compile-time stats
                          # pick broadcast at test SFs, and a stats flip
                          # to SMJ (+2 exchanges) would TRIP this budget
                          # rather than any pinned broadcast assertion —
                          # that trip is the intended signal to re-audit,
                          # not a license to bump the number
    "SIM-TOPK": 1,        # TakeOrderedAndProject merge
    "SIM-BQ": 1,          # per-query rank window; queries broadcast,
                          # hamming is in-row XOR+popcount
    "SIM-IVF": 3,         # kmeans train aggs; serve path broadcast+pruned
    "TEXT-QUALITY": 0,    # pure projections
    "TEXT-LANGID": 0,
    "TEXT-CHUNK": 0,
    "TEXT-WINNOW": 1,
    "TEXT-REPETITION": 1, # bench entry spreads the one-row-group input; the
                          # operator itself is zero-shuffle (pinned below)
    "TEXT-BM25": 1,       # single-row stats agg; scoring is a broadcast
    "SEARCH-RRF": 4,      # bm25 stats agg + two top-20 pack aggs + the
                          # fused top-10 take; the pool full-outer join
                          # and the final rank run on ≤40 rows
    "TEXT-TFIDF": 5,      # tf agg + per-term df window + per-doc rank
                          # window (3 gram-scale shuffles carrying (doc,
                          # term, counts)) + the 1-row N agg + the
                          # entry's presentation orderBy
    "E-PROFILE": 2,       # single-pass agg + tiny pivot
    "E-ROBUST": 4,        # p5/p95 bounds agg + median agg + MAD agg
                          # (all lang-cardinality, broadcast back) + the
                          # entry's presentation orderBy
    "MM-IMAGE": 0,        # mapInPandas decode, no shuffle
    "PIPE-DOCS": 16,      # multi-op pipeline entry (dedup + quality +
                          # ADAPTIVE near-dup prune + embedding join);
                          # +5 over round 6 = the candidate stage's
                          # block-cost agg + all-pairs union branch
                          # (see DEDUP-NGRAM — AQE no-ops the empty
                          # branch at runtime); s2/toks/sizes persist,
                          # so count by plan_id
    "PIPE-EVENTS": 1,
    "SKETCH-HLL": 2,      # build agg + merge agg
    "SKETCH-THETA": 2,    # per-key sketch agg + sketch-side pairing
    "LINE-DEDUP": 3,      # line-freq countDistinct (2-phase) + doc rebuild;
                          # the offender join is broadcast by design
    "BPE-ENCODE": 0,      # scan -> tokens -> mapInPandas encode, no shuffle
    "WP-ENCODE": 0,       # same shape, greedy longest-match encoder
    "UNIGRAM-ENCODE": 1,  # same shape + the entry's presentation orderBy
                          # (training's word-count pass runs eagerly at
                          # plan-build time)
    "COMPRESS-RATIO": 1,  # scan -> mapInPandas zlib + presentation orderBy
    "SKETCH-FREQ": 2,     # per-day accumulate agg + global combine agg
    "LM-SCORE": 5,        # uni/bigram count aggs + two gram-key model joins
                          # + per-doc sum; N attaches as a 1-row broadcast
    "CORPUS-DSIR": 5,     # raw/target bucket-count aggs + weight-table
                          # full-outer + per-doc sum + the totals window's
                          # one-partition exchange (bounded at 4096 rows);
                          # the scoring join is a broadcast
    "CORPUS-PACKSEQ": 3,  # rank-within-length window + broadcast slot
                          # table + presentation orderBy (histogram agg
                          # runs eagerly at plan build)
    "QUALITY-KLLGATE": 11,  # the DSIR subtree appears under both the
                            # threshold sketch and the kept stream (plus
                            # the KLL agg); threshold attaches as a 1-row
                            # broadcast
    "PIPE-CORPUS": 12,    # the full corpus pipeline (line-dedup → gates →
                          # exact/near dedup → decontam → DSIR+KLL → pack →
                          # BPE), counted by plan_id. r12 session-3 re-pin
                          # 42 → 12 (measured 9): a second StageCache.cut
                          # at the d5 (decontam) fan-out root collapses
                          # the line-dedup→pair→CC→decontam subtree to a
                          # checkpoint leaf, so the COMPOSED plan carries
                          # only the DSIR/pack/BPE exchanges — the pair
                          # chain's exchanges still execute, inside the
                          # construction-time cut job (attributed by
                          # bench.py's _build_eager_components); composed
                          # action 9.7–10.0 → 1.5–1.8 s (interleaved A/B)
    "TEXT-GOPHER": 0,     # named Gopher rule battery: map-only integer
                          # cross-multiplications, fuses into the scan
    "CLS-SCORE": 8,       # NBSVM train: 2 count aggs over ONE feature
                          # explosion (count table persisted) + score
                          # explode/join/fold + presentation orderBy
    "CLS-ROUTE": 16,      # one (bucket, class) count explosion trains
                          # all k one-vs-rest models (PERF-NOTES 24:
                          # analytic n_feat, window-sum totals)
    "CLS-GATE": 17,       # CLS-SCORE subtree under both the KLL
                          # threshold sketch and the kept stream
    "PIPE-CORPUS-COMPONENTS": 12,  # the components-grain corpus pipeline
                          # (r12 first-class bench entry): same chain as
                          # PIPE-CORPUS with the pair stage replaced by
                          # minhash star edges → lazy contraction →
                          # component prune. r12 session-3 re-pin 26 → 12
                          # (measured 9): the d5 cut truncates the whole
                          # near-dup/decontam subtree, so both grains'
                          # composed plans are now the identical
                          # leaf→DSIR→pack→BPE tail (the grains differ
                          # only inside the construction-time cut job)
}

#: operator-level zero-shuffle guarantees (no bench-input repartition)
ZERO_SHUFFLE_OPS = ["TEXT-QUALITY", "TEXT-CHUNK"]


def test_every_bench_entry_is_pinned():
    """New bench entries must arrive with an Exchange budget — coverage of
    the plan pins tracks the bench suite by construction."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import BENCH_QUERIES

    missing = [n for n in BENCH_QUERIES if n not in MAX_EXCHANGES]
    assert not missing, f"bench entries without a plan pin: {missing}"


def _plan(spark, name: str) -> str:
    fn = flagship if name == "FLAGSHIP" else ALL_QUERIES[name]
    # hold the frame until AFTER the plan string is taken: compositions
    # tie their shared-stage caches to the result's lifetime
    # (plans/compose.release_when_unreachable), and executedPlan() is
    # computed lazily — `fn(...)._jdf...toString()` drops the frame
    # mid-expression, the GC finalizer unpersists, and the plan prints
    # WITHOUT its InMemoryRelations (399 exchanges instead of 25)
    df = fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


#: entries whose plan REUSES persisted stages: the cached subtree prints
#: once per reference, so exchanges are counted by DISTINCT plan_id
#: (the same physical node keeps its id across printings) instead of by
#: text occurrence.
COUNT_BY_PLAN_ID = {"PIPE-CORPUS", "PIPE-CORPUS-COMPONENTS", "PIPE-DOCS", "DEDUP-NGRAM"}


@pytest.mark.parametrize("name", sorted(MAX_EXCHANGES))
def test_exchange_budget(spark, name):
    plan = _plan(spark, name)
    if name in COUNT_BY_PLAN_ID:
        n = len(set(re.findall(r"\bExchange\b[^\n]*?plan_id=(\d+)", plan)))
    else:
        n = len(re.findall(r"\bExchange\b", plan))
    assert n <= MAX_EXCHANGES[name], f"{name}: {n} exchanges > {MAX_EXCHANGES[name]}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"


def test_bloom_prefilter_adds_no_corpus_shuffle(spark):
    # the decontam prefilter's contract: dropping non-eval grams from the
    # exploded corpus stream against the broadcast filter adds ZERO
    # exchanges beyond the (eval-scale) bloom build itself — the corpus
    # branch is scan → explode → codegen'd probe, never a shuffle
    import pyspark.sql.functions as F

    from feasibility_etl_spark.operators.dedup import shingles
    from feasibility_etl_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_contains,
    )
    from feasibility_etl_spark.sources.catalog import load

    docs = load(spark, SF, "documents")
    sh = F.array_distinct(shingles(F.col("text"), n=8))
    grams = docs.where(F.col("doc_id") % 97 == 0).select(
        F.explode(sh).alias("g")
    ).distinct()
    bloom = bloom_build(grams, "g", m_bits=1 << 14)

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"\bExchange\b", plan))

    suspects = (
        docs.select("doc_id", F.explode(sh).alias("_g"))
        .crossJoin(F.broadcast(bloom))
        .where(bloom_maybe_contains(F.col("_g"), F.col("bloom"), 1 << 14))
    )
    assert n_exchanges(suspects) == n_exchanges(bloom)
    # and the probe stays inside whole-stage codegen (no BatchEvalPython,
    # no interpreted HOF filter stage)
    assert "BatchEvalPython" not in suspects._jdf.queryExecution().executedPlan().toString()


def test_repetition_operator_is_zero_shuffle(spark):
    # the OPERATOR itself (not the bench entry, which spreads a one-row-
    # group input first) must plan with no Exchange at all
    from feasibility_etl_spark.operators.text import repetition_signals
    from feasibility_etl_spark.sources.catalog import load

    df = repetition_signals(load(spark, SF, "documents"), top_ns=(2,), dup_ns=(2,))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


#: Spark jobs of one incremental ``etl`` batch at sf0.001 (measured 19):
#: per dim, the new-key increment's scan, distinct, max(id) and row_number
#: stages and its append; the fact's three FK broadcasts over the
#: committed dims, its existing-key anti-join and append; the reject
#: count; one two-job summary aggregate. The stage → read-back → swap
#: writer this replaced ran 43.
ETL_BATCH_MAX_JOBS = 21


def test_etl_incremental_batch_job_budget(spark, tmp_path, capsys):
    from feasibility_etl_spark.__main__ import main
    from feasibility_etl_spark.observability import JobMetricsTracker

    out = str(tmp_path / "star")
    assert main(["etl", "--sf-dir", SF, "--out", out]) == 0
    tracker = JobMetricsTracker(spark)
    with tracker.track("etl-incremental"):
        assert main(["etl", "--sf-dir", SF, "--out", out]) == 0
    capsys.readouterr()
    (row,) = tracker.metrics_df().collect()
    assert row["n_jobs"] <= ETL_BATCH_MAX_JOBS, row


@pytest.mark.parametrize("qid", MIX_IDS)
def test_query_mix_frame_builds_with_no_jobs(spark, qid):
    """Catalog reads declare their schema, so building a query-mix frame
    runs no Spark job (an inferring read ran one per table)."""
    from conftest import jobs_run_by

    fn = flagship if qid == "FLAGSHIP" else ALL_QUERIES[qid]
    _, n_jobs = jobs_run_by(spark, lambda: fn(spark, SF))
    assert n_jobs == 0
