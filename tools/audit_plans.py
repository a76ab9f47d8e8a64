"""Physical-plan audit: every queries() entry is checked for scale red flags.

Run: ``python tools/audit_plans.py [sf_dir]``

Flags hunted (each one is a 100 TB incident waiting to happen):

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` — an O(n×m) join that
  isn't an intentional small-side broadcast (brute-force top-k broadcasts
  a handful of query vectors by design; anything else is a bug).
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan. The engine's
  policy is JVM Column exprs + Arrow-batched Pandas stages only
  (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``).
- parquet scans with no ``PushedFilters`` on queries that filter — predicate
  stranded above the scan.
- ``Exchange`` count — not an error, but printed so shuffle-heavy plans are
  visible and regressions show up in review diffs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feasibility_etl_spark.driver_queries import ALL_QUERIES  # noqa: E402
from feasibility_etl_spark.flagship import flagship  # noqa: E402
from feasibility_etl_spark.session import build_session  # noqa: E402

#: Queries where a nested-loop/cartesian shape is the intended algorithm:
#: brute-force scoring broadcasts ≤5 query vectors against the corpus
#: (the baseline ANN tier), and IVF probes join on cell ids after a
#: deliberate centroid cross-score.
#: J-LOOKUP-INSERT cross-joins a literal 1-row aggregate (max existing
#: surrogate id) onto the dim-sized additions frame — a broadcast of one
#: row, the canonical way to attach a scalar offset without a collect.
#: SIM-PQ's cross join is queries x codebooks (both tiny, ADC tables).
#: E-AUDIT cross-joins two driver-built 1-row audit summaries (coalesce(1)
#: on both sides) — a 1x1 product, not a data join.
#: TEXT-BM25 / TEXT-PROFILE cross-join the SINGLE-ROW corpus-stats
#: aggregate (N, avgdl, per-term df) back onto the corpus — broadcast of
#: one row, the scalar-attach pattern again.
#: SKETCH-THETA's cross join is per-key sketches x per-key sketches
#: (K^2 sketch rows, K = #event types) — sketch-side set algebra, never
#: a join over the underlying events.
#: SKETCH-CONTAM cross-joins two SINGLE-ROW global sketch aggregates
#: (corpus and eval theta sketches) — a 1x1 product.
#: TEXT-BM25-TOPK inherits TEXT-BM25's single-row corpus-stats attach;
#: SEARCH-RRF inherits it too and adds cosine_topk's broadcast of ≤5
#: query vectors (SIM-TOPK's allowlisted shape).
#: LM-SCORE cross-joins the SINGLE-ROW training-token total (N) onto the
#: transition stream — the scalar-attach pattern; the model joins proper
#: are hash equi-joins on the gram keys. TEXT-ROWS inherits it via its
#: part='lm' slice.
#: CORPUS-DECONTAM-BLOOM cross-joins the SINGLE-ROW Bloom-filter array
#: (~64 KB) onto the corpus scan — the scalar-attach pattern that makes
#: the flag pass an in-row membership probe with zero corpus shuffle.
#: The driver's combined CORPUS-DECONTAM entry inherits it.
#: CORPUS-DSIR cross-joins the SINGLE-ROW (t_raw, t_tgt) feature totals
#: onto the DSIR_BUCKETS-row weight table (1 x 4096 product); the
#: scoring join is a broadcast hash equi-join on bucket. CORPUS-ASSIGN
#: inherits it via its dsir_* columns.
CARTESIAN_OK = {
    "SIM-TOPK", "SIM-IVF", "SIM-PQ", "SIM-IVFPQ", "SIM-ANN", "SIM-BQ",
    # SIM-BQRR (round-7): hamming_topk's ≤3-query broadcast crossed onto
    # the packed-code scan (SIM-BQ's exact allowlisted shape) + the same
    # queries-side attach in the cosine re-rank — never corpus×corpus.
    "SIM-BQRR",
    # SIM-IVFBQ (round-6 granular singleton): the same ≤5-query-vector
    # broadcast attach as its SIM siblings — query table crossed onto
    # the probed cells, never corpus×corpus.
    "SIM-IVFBQ",
    # SIM-IVF-APPEND (round-10): serves through the same _ivf_probe_score
    # as SIM-IVF (≤5 queries crossed onto the n_cells centroid table),
    # from the appended-to persisted index — never corpus×corpus.
    "SIM-IVF-APPEND",
    # SIM-IVF-RECLUSTER (round-11): same _ivf_probe_score serve from the
    # repaired index (≤5 queries × n_cells centroids) — never corpus².
    "SIM-IVF-RECLUSTER",
    "J-LOOKUP-INSERT", "E-AUDIT",
    "TEXT-BM25", "TEXT-PROFILE", "SKETCH-THETA",
    "SKETCH-CONTAM", "SKETCH-CONTAM-SCOUT", "TEXT-BM25-TOPK",
    "LM-SCORE", "TEXT-ROWS", "CORPUS-DSIR", "CORPUS-ASSIGN",
    # QUALITY-KLLGATE: 1-row KLL-threshold broadcast attach onto the
    # scored stream (inherits CORPUS-DSIR's totals attach too).
    "QUALITY-KLLGATE",
    "CORPUS-DECONTAM-BLOOM", "CORPUS-DECONTAM", "SEARCH-RRF",
    # TEXT-TFIDF: the 1-row corpus-count broadcast attach (scalar-attach
    # pattern); the tf/df/rank stages are hash aggs and windows.
    "TEXT-TFIDF",
    # PIPE-CORPUS composes the allowlisted stages above: the decontam
    # stage's 1-row Bloom-filter attach (CORPUS-DECONTAM-BLOOM) and the
    # DSIR totals/KLL-threshold 1-row attaches (CORPUS-DSIR /
    # QUALITY-KLLGATE). No new cartesian shape of its own.
    "PIPE-CORPUS",
    # PIPE-CORPUS-COMPONENTS (r12): same composed chain, the near-dup
    # stage swapped for minhash components — the 1-row KLL-threshold /
    # Bloom broadcast attaches are the only nested-loop joins, never
    # corpus×corpus.
    "PIPE-CORPUS-COMPONENTS",
    # PIPE-FAMILY unions PIPE-DOCS and PIPE-CORPUS; CORPUS-DECONTAM-SUITE
    # carries CORPUS-DECONTAM-BLOOM's Bloom attach as its part='bloom'
    "PIPE-FAMILY", "CORPUS-DECONTAM-SUITE",
    # CLS-SCORE: three 1-row scalar attaches (feature totals onto the
    # weight table, doc-count prior + default weight onto the scored
    # frame); the weight join proper is a broadcast hash equi-join on
    # bucket. TEXT-ROWS inherits it via its part='cls' slice.
    "CLS-SCORE",
    # CLS-GATE: inherits CLS-SCORE's scalar attaches plus
    # QUALITY-KLLGATE's 1-row KLL-threshold broadcast attach onto the
    # scored frame.
    "CLS-GATE",
    # CLS-ROUTE: the k-row class table (k = #langs) crosses the ≤B-row
    # bucket-total table to build the dense weight grid, plus the same
    # 1-row total attaches — class-grid algebra, never a join over the
    # corpus; scoring joins are hash equi-joins on bucket/(id, cls).
    "CLS-ROUTE",
}

#: Queries that legitimately run Arrow-batched Python: multimodal decode,
#: and real BPE encoding (operators/bpe.py — a per-word merge loop no
#: relational form expresses; Arrow-batched mapInPandas with broadcast
#: merge ranks is the sanctioned tier). MM-MEDIA unions the two decode
#: pipelines; TEXT-ROWS carries the BPE stream as its part='bpe' slice.
PYTHON_OK = {"MM-IMAGE", "MM-AUDIO", "MM-RESIZE", "MM-VISUAL",
             "MM-MEDIA", "BPE-ENCODE", "WP-ENCODE", "UNIGRAM-ENCODE",
             "COMPRESS-RATIO",
             "TEXT-ROWS",
             # PIPE-CORPUS ends in the BPE-ENCODE mapInPandas stage
             "PIPE-CORPUS",
             # Unicode normalization: Spark has no ICU Column function;
             # Arrow-batched unicodedata is the sanctioned codec tier
             "TEXT-NORMALIZE",
             # EMB-NEARDUP: group_cosine_pairs — the sanctioned per-group
             # BLAS pair scorer (PERF-NOTES 28, 57× over the interpreted
             # HOF fold at sf1); applyInPandas per (band, bucket) group.
             "EMB-NEARDUP",
             # TEXT-WINNOW (round-7): numpy rolling-hash + sliding-min in
             # mapInPandas (PERF-NOTES 32, 231× at sf1); the relational
             # twin stays the oracle-shaped formulation.
             "TEXT-WINNOW",
             # TEXT-REPETITION (round-10): Counter-based gram mass in
             # mapInPandas (repetition_signals_arrow, ~3.6× at sf0.1);
             # relational twin stays the oracle-shaped formulation.
             "TEXT-REPETITION",
             # connected_components is a lazy two-phase union-find —
             # two Arrow-batched mapInPandas stages (per-partition local
             # forests + one merge task). Every entry whose plan embeds
             # component labels carries them.
             "DEDUP-COMPONENTS", "DEDUP-PRUNE", "DEDUP-PRUNE-BEST",
             "DEDUP-MINHASH-COMP", "DEDUP-STARPRUNE",
             "PIPE-CORPUS-COMPONENTS",
             # r12: assign_cells is the Arrow-batched numpy matmul
             # argmin (PERF-NOTES 59 — the HOF twin measured 1.7×
             # slower); IVF build/serve/append entries carry it.
             "SIM-IVF", "SIM-ANN", "SIM-IVF-APPEND", "SIM-IVF-RECLUSTER",
             # r12 (session 5): substring_dedup rebuilds dup-CARRYING
             # docs (the sliver; untouched docs stay JVM) via one
             # vectorized interval-coverage pass per Arrow batch
             # (commit d1c96e2, 4.33 → 2.51 s).
             "DEDUP-SUBSTRING",
             # unions carrying a sanctioned stage: PIPE-FAMILY's
             # part='corpus' is PIPE-CORPUS, DEDUP-EXACT-SUITE's
             # part='substr' is DEDUP-SUBSTRING
             "PIPE-FAMILY", "DEDUP-EXACT-SUITE"}


def audit(name: str, plan: str) -> tuple[list[str], list[str]]:
    errors, notes = [], []
    if re.search(r"CartesianProduct|BroadcastNestedLoopJoin", plan):
        (notes if name in CARTESIAN_OK else errors).append("cartesian/nested-loop join")
    if "BatchEvalPython" in plan:
        errors.append("row-at-a-time Python UDF (BatchEvalPython)")
    for m in re.finditer(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan):
        if name not in PYTHON_OK:
            errors.append(f"unexpected Python stage ({m.group(0)})")
        break
    n_exchanges = len(re.findall(r"\bExchange\b", plan))
    n_scans = len(re.findall(r"Scan parquet", plan))
    notes.append(f"{n_exchanges} exchanges, {n_scans} parquet scans")
    return errors, notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session("plan-audit")
    failures = 0
    items = {"FLAGSHIP": flagship, **ALL_QUERIES}
    for name, fn in items.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"[ERROR] {name}: plan build failed: {e}")
            failures += 1
            continue
        errors, notes = audit(name, plan)
        status = "FLAG" if errors else "ok"
        detail = "; ".join(errors + notes)
        print(f"[{status}] {name}: {detail}")
        failures += bool(errors)
    print(f"\n{failures} flagged")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
