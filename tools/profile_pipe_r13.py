"""r13: where do PIPE-CORPUS's seconds go, in jobs/stages, phase by phase?

Replicates the CURRENT pipe_corpus_stage_frames body (d3 AND d5 cuts)
with wall timers at each boundary plus executed job/stage/task counts
from the status store, then runs the composed noop action. The r12
build-phase profiler predated the d5 cut; this is the
round-13 instrument for VERDICT item 1 (stage-count reduction).

Usage: python tools/profile_pipe_r13.py [reps] [pairs|components]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from feasibility_etl_spark.session import build_session  # noqa: E402


def _counts(spark):
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(None)
    n_stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            n_stages += len(info.stageIds)
    return {"jobs": len(jobs), "stages": n_stages}


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    near_dup = sys.argv[2] if len(sys.argv) > 2 else "pairs"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session("profile-pipe-r13")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: (b for b in it), "id long"
    ).write.format("noop").mode("overwrite").save()

    from feasibility_etl_spark.driver_queries._shared import (
        blocked_jaccard_pairs,
        exact_dedup,
        load,
        quality_score,
        token_count,
    )
    from feasibility_etl_spark.driver_queries.views_dedup_corpus import (
        _structured_docs,
    )
    from feasibility_etl_spark.operators.bpe import DEMO_MERGES, bpe_encode_text
    from feasibility_etl_spark.operators.corpus import dsir_weights, pack_shards
    from feasibility_etl_spark.operators.dedup import (
        line_dedup,
        minhash_components,
        prune_by_components,
        prune_components,
    )
    from feasibility_etl_spark.operators.sketches import (
        bloom_decontaminate,
        threshold_filter,
    )
    from feasibility_etl_spark.operators.text import lang_id
    from feasibility_etl_spark.plans.compose import StageCache

    import bench

    for rep in range(reps):
        bench.isolate_entry(spark)
        out: dict[str, object] = {}
        c_prev = _counts(spark)
        t_entry = time.time()

        def phase(name: str, t0: float) -> None:
            nonlocal c_prev
            c = _counts(spark)
            out[name] = {
                "sec": round(time.time() - t0, 3),
                "jobs": c["jobs"] - c_prev["jobs"],
                "stages": c["stages"] - c_prev["stages"],
            }
            c_prev = c

        t = time.time()
        raw = load(spark, sf_dir, "documents")
        meta = raw.select("doc_id", "lang", "source")
        d1 = (
            line_dedup(_structured_docs(spark, sf_dir))
            .select("doc_id", "text")
            .join(meta, "doc_id")
        )
        shared = StageCache()
        d2 = shared(
            d1.where((quality_score("text") >= 0.45) & (lang_id("text") != "und"))
        )
        phase("construct_d1_d2", t)

        t = time.time()
        spark.sparkContext.setJobDescription(f"rep{rep} cut d3")
        d3 = shared.cut(exact_dedup(d2))
        phase("cut_d3", t)

        t = time.time()
        spark.sparkContext.setJobDescription(f"rep{rep} near_dup construct")
        if near_dup == "components":
            comps = minhash_components(d3, max_bucket_size=64)
            d4 = prune_by_components(d3, comps)
        else:
            pairs = blocked_jaccard_pairs(
                d3, ["lang", "source"], threshold=0.2, cache=shared,
                broadcast_routing=True, branch_gate=True,
            )
            d4 = prune_components(d3, pairs)
        phase("near_dup_construct", t)

        t = time.time()
        spark.sparkContext.setJobDescription(f"rep{rep} cut d5")
        d5 = shared.cut(bloom_decontaminate(d4, raw.where(F.col("doc_id") % 97 == 0)))
        phase("cut_d5", t)

        t = time.time()
        w = shared(dsir_weights(d5, raw.where(F.col("doc_id") % 101 == 0)))
        gate = threshold_filter(w, "logw_e9", keep_frac=0.25)
        d6 = d5.join(gate.select("doc_id", "logw_e9"), "doc_id")
        d7 = shared(
            pack_shards(
                d6.withColumn("n_tok", token_count("text")), "n_tok", 2000,
                num_buckets=8,
            )
        )
        enc = bpe_encode_text(d7, DEMO_MERGES)
        out_df = d7.join(
            enc.select(
                "doc_id", "bpe_text", F.col("n_bpe_tokens").alias("n_bpe_tok")
            ),
            "doc_id",
        ).select(
            "doc_id", "lang", "source", "n_tok", "shard_id", "logw_e9",
            "n_bpe_tok", "bpe_text",
        )
        phase("tail_construct", t)

        t = time.time()
        spark.sparkContext.setJobDescription(f"rep{rep} composed action")
        out_df.write.format("noop").mode("overwrite").save()
        phase("action", t)

        out["_total_sec"] = round(time.time() - t_entry, 3)
        shared.release()
        print(json.dumps({"rep": rep, "near_dup": near_dup, **out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
