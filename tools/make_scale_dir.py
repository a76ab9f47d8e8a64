"""Materialize an ~sf1-equivalent test directory from sf0.1 parquet.

Round-6 scale evidence needs REAL FILES (the granular oracle sweep
reads the same parquet from Spark and DuckDB), not in-plan replicas.
Recipe:

- Relational tables ×10 with one consistent id offset (replica r adds
  ``r * 10**9`` to every PRIMARY and FOREIGN key), so each replica is a
  self-contained TPC-H-ish world and every join keeps its selectivity:
  6M lineitem / 1.5M orders / 150k customer — the sf1 shape.
  ``region``/``nation`` stay 1× (fixed-size dims at every SF, like
  TPC-H itself) and nationkey FKs are left unchanged.
- ``documents`` ×100 (→ 500k docs): replica r > 0 appends a replica
  token to the text, so the EXACT/NEAR-dup structure of the original
  corpus repeats per replica and the corpus-wide duplicate RATE stays
  what it was — replicating text verbatim would instead create
  100-member duplicate groups and quadratic pair blowups that say
  nothing about engine scaling, only about the synthetic data.
- ``embeddings`` ×100 (→ 200k vectors): replica r > 0 negates 16 of
  the 64 coordinates (positions ``(r + 4k) mod 64``), which drops
  cross-replica cosine to ~0.5 — below every near-dup threshold — for
  the same reason.
- ``events`` ×10 with event_id/user_id offsets (more actors, not
  longer per-actor histories).

Deterministic end to end: same input, same output. Run:
``python tools/make_scale_dir.py [src_dir] [dst_dir]``
(defaults /root/testdata/sf0.1 → /root/repo/.scale/sf1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from feasibility_etl_spark.session import build_session  # noqa: E402
from feasibility_etl_spark.sources.catalog import load  # noqa: E402

OFFSET = 10**9


def replicate(df: DataFrame, factor: int, key_cols: list[str]) -> DataFrame:
    """factor× the frame; replica r adds r*OFFSET to every key column
    (replica 0 is the original rows, byte-identical ids)."""
    out = df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_r")
    )
    for c in key_cols:
        out = out.withColumn(c, F.col(c) + F.col("_r").cast("long") * F.lit(OFFSET))
    return out.drop("_r") if "_r" not in df.columns else out


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scale/sf1"
    spark = build_session("make-scale-dir")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)

    def write(df: DataFrame, name: str, parts: int) -> None:
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
        print(f"{name}: {spark.read.parquet(os.path.join(dst, name + '.parquet')).count()} rows")

    # fixed dims: copy through
    for t in ("region", "nation"):
        write(load(spark, src, t), t, 1)

    rel = {
        "customer": ["c_custkey"],
        "supplier": ["s_suppkey"],
        "part": ["p_partkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "events": ["event_id", "user_id"],
    }
    for t, keys in rel.items():
        write(replicate(load(spark, src, t), 10, keys), t, 16)

    docs = load(spark, src, "documents")
    d = docs.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("_r")
    ).select(
        (F.col("doc_id") + F.col("_r").cast("long") * F.lit(OFFSET)).alias("doc_id"),
        F.when(F.col("_r") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" repl"), F.col("_r")))
        .alias("text"),
        "lang",
        "source",
        # keep n_chars consistent with the salted text
        F.when(F.col("_r") == 0, F.col("n_chars"))
        .otherwise(F.length(F.concat(F.col("text"), F.lit(" repl"), F.col("_r"))))
        .alias("n_chars"),
    )
    write(d, "documents", 32)

    # per-replica sign masks, generated driver-side and VERIFIED pairwise
    # distinct enough: any two replicas of the same vector differ in
    # >= 12 sign flips -> cross-replica cosine <= 1 - 2*12/64 = 0.625,
    # under every near-dup threshold. (A modular flip pattern collides:
    # r and r+4 would share a mask and re-create exact-dup explosions.)
    import random

    emb = load(spark, src, "embeddings")
    emb_type = emb.schema["embedding"].dataType
    dim = len(emb.first()["embedding"])
    rng = random.Random(7)
    masks = [[1.0] * dim]
    while len(masks) < 100:
        m = [(-1.0 if rng.random() < 0.3 else 1.0) for _ in range(dim)]
        if all(
            sum(1 for a, b in zip(m, prev) if a != b) >= 12 for prev in masks
        ):
            masks.append(m)
    mask_df = spark.createDataFrame(
        [(r, masks[r]) for r in range(100)], "_r int, _mask array<double>"
    )
    e = (
        emb.select("*", F.explode(F.sequence(F.lit(0), F.lit(99))).alias("_r"))
        .join(F.broadcast(mask_df), "_r")
        .select(
            (F.col("vec_id") + F.col("_r").cast("long") * F.lit(OFFSET)).alias(
                "vec_id"
            ),
            F.zip_with(F.col("embedding"), F.col("_mask"), lambda x, s: x * s)
            .cast(emb_type)
            .alias("embedding"),
            "label",
        )
    )
    write(e, "embeddings", 8)
    spark.stop()


if __name__ == "__main__":
    main()
