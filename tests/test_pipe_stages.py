"""PIPE-CORPUS stage attribution guard (VERDICT r9 item 6): the stage
list is the single source of truth for the composed entry (last frame IS
the composed result), and the bench runner times every stage."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from feasibility_etl_spark.driver_queries.pipelines_joins import (  # noqa: E402
    pipe_corpus_stage_frames,
    q_pipe_corpus,
)

from conftest import SF0001  # noqa: E402

STAGE_NAMES = [
    "line_dedup",
    "quality_lang_gates",
    "exact_dedup",
    "near_dup_prune",
    "decontam",
    "dsir_gate",
    "pack_shards",
    "bpe_encode",
]


def test_last_stage_frame_is_the_composed_result(spark):
    stages, shared = pipe_corpus_stage_frames(spark, SF0001)
    try:
        assert [n for n, _ in stages] == STAGE_NAMES
        staged_rows = {tuple(r) for r in stages[-1][1].collect()}
    finally:
        shared.release()
    composed = q_pipe_corpus(spark, SF0001)
    composed_rows = {tuple(r) for r in composed.collect()}
    assert staged_rows == composed_rows and len(staged_rows) > 0


def test_bench_runner_times_every_stage(spark):
    out = bench.run_pipe_corpus_stage_bench(spark, SF0001)
    # _build_eager_components: frame construction's own jobs (the fan-out
    # cut) are timed as a stage — the stage sum must carry them
    assert set(out) == set(STAGE_NAMES) | {"_build_eager_components"}
    assert all(isinstance(v, float) and v >= 0 for v in out.values())
    # monotone row flow sanity isn't timed here; the point is each stage
    # gets its OWN number so a composition regression names its stage


def test_components_mode_runs_the_clique_safe_chain(spark):
    # VERDICT r10 item 4: the flagship chain's near-dup stage one flag away
    # from star-edge grain (minhash_components → prune_by_components) —
    # same stages, same schema, no pair cliques ever materialized
    import pytest

    stages, shared = pipe_corpus_stage_frames(spark, SF0001, near_dup="components")
    try:
        assert [n for n, _ in stages] == STAGE_NAMES
        rows = stages[-1][1].collect()
    finally:
        shared.release()
    assert len(rows) > 0
    stages_p, shared_p = pipe_corpus_stage_frames(spark, SF0001, near_dup="pairs")
    try:
        assert stages_p[-1][1].columns == stages[-1][1].columns
    finally:
        shared_p.release()
    with pytest.raises(ValueError, match="near_dup"):
        pipe_corpus_stage_frames(spark, SF0001, near_dup="bogus")
