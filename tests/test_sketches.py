"""HLL distinct sketches: merge correctness, error bounds, invariances."""

import pytest
from pyspark.sql import functions as F

from feasibility_etl_spark.operators.sketches import (
    distinct_sketches,
    merge_sketches,
    with_estimate,
)


@pytest.fixture()
def events(spark):
    # 4 "days" x 1000 rows; value cardinality 600 with cross-day overlap
    return spark.range(4000).select(
        (F.col("id") % 4).alias("day"),
        (F.col("id") % 16).alias("bucket"),
        ((F.col("id") * 7919) % 600).alias("value"),
    )


def test_small_cardinality_is_exact(spark, events):
    small = events.withColumn("value", F.col("value") % 40)
    got = {
        r.bucket: r.n_distinct_est
        for r in with_estimate(
            merge_sketches(distinct_sketches(small, ["bucket", "day"], "value"), ["bucket"])
        ).collect()
    }
    exact = {
        r.bucket: r.n
        for r in small.groupBy("bucket").agg(F.countDistinct("value").alias("n")).collect()
    }
    assert got == exact  # coupon-mode sketches are exact at tiny cardinality


def test_merged_equals_direct_sketch_small(spark, events):
    # coupon mode: union of daily sketches == one direct sketch, exactly
    small = events.withColumn("value", F.col("value") % 40)
    daily = distinct_sketches(small, ["day"], "value")
    merged = with_estimate(merge_sketches(daily, []))
    direct = with_estimate(distinct_sketches(small.withColumn("g", F.lit(1)), ["g"], "value"))
    assert merged.collect()[0].n_distinct_est == direct.collect()[0].n_distinct_est == 40


def test_merged_tracks_direct_sketch_large(spark, events):
    # past coupon mode the union gadget (HLL_8) and the direct sketch
    # (HLL_4) may disagree by a few counts — bound it, don't pin it
    daily = distinct_sketches(events, ["day"], "value")
    merged = with_estimate(merge_sketches(daily, [])).collect()[0].n_distinct_est
    direct = with_estimate(
        distinct_sketches(events.withColumn("g", F.lit(1)), ["g"], "value")
    ).collect()[0].n_distinct_est
    assert abs(merged - direct) / 600 < 0.02
    assert abs(merged - 600) / 600 < 0.05


def test_error_bound_at_large_cardinality(spark):
    n = 50_000
    df = spark.range(n).select((F.col("id") * 2654435761 % 2**31).alias("v"))
    est = with_estimate(distinct_sketches(df.withColumn("g", F.lit(1)), ["g"], "v")).collect()[0]
    exact = df.select("v").distinct().count()
    assert abs(est.n_distinct_est - exact) / exact < 0.05  # rse ~1.6% at lg_k=12


def test_partitioning_invariant_in_coupon_mode(spark, events):
    # small-cardinality sketches are insertion-order-exact, so estimates
    # are partition-invariant; past coupon promotion they are only
    # bounded (order affects register state) — the driver oracle relies
    # on the former only
    small = events.withColumn("value", F.col("value") % 40)
    a = with_estimate(
        merge_sketches(distinct_sketches(small.repartition(1), ["day"], "value"), [])
    ).collect()[0].n_distinct_est
    b = with_estimate(
        merge_sketches(distinct_sketches(small.repartition(13), ["day"], "value"), [])
    ).collect()[0].n_distinct_est
    assert a == b == 40



def test_kll_exact_below_capacity(spark):
    from feasibility_etl_spark.operators.sketches import quantile_sketches, with_quantiles

    df = spark.range(500).select(F.lit(1).alias("g"), F.col("id").alias("v"))
    q = with_quantiles(quantile_sketches(df, ["g"], "v", k=800), [0.5]).collect()[0]
    assert q.p50 in (249, 250)  # retains every item below capacity


def test_theta_overlap_exact_small_sets(spark):
    from feasibility_etl_spark.operators.sketches import pairwise_overlap, theta_sketches

    # A = {0..99}, B = {50..149}, C = {200..209}
    df = spark.createDataFrame(
        [("A", i) for i in range(100)]
        + [("B", i) for i in range(50, 150)]
        + [("C", i) for i in range(200, 210)],
        "seg string, uid long",
    )
    got = {
        (r.key_a, r.key_b): r.n_shared
        for r in pairwise_overlap(theta_sketches(df, ["seg"], "uid"), "seg").collect()
    }
    assert got == {("A", "B"): 50, ("A", "C"): 0, ("B", "C"): 0}


def test_theta_union_and_difference_exact_small(spark):
    from feasibility_etl_spark.operators.sketches import theta_sketches

    df = spark.createDataFrame(
        [("A", i) for i in range(100)] + [("B", i) for i in range(50, 150)],
        "seg string, uid long",
    )
    th = theta_sketches(df, ["seg"], "uid")
    a, b = th.alias("a"), th.alias("b")
    row = (
        a.join(b, F.col("a.seg") < F.col("b.seg"))
        .select(
            F.round(F.theta_sketch_estimate(
                F.theta_union(F.col("a.theta"), F.col("b.theta")))).cast("long").alias("u"),
            F.round(F.theta_sketch_estimate(
                F.theta_difference(F.col("a.theta"), F.col("b.theta")))).cast("long").alias("d"),
        )
        .collect()[0]
    )
    assert row.u == 150 and row.d == 50  # |A∪B|, |A\B|


def test_contamination_estimate_matches_exact_on_small(spark):
    from feasibility_etl_spark.operators.sketches import contamination_estimate

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),      # shares the eval 8-gram window
         (2, "q r s t u v w x y z"),      # disjoint
         (3, "a b c d e f g h zz")],      # shares the first 8-gram
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, "a b c d e f g h")], "doc_id long, text string")
    row = contamination_estimate(docs, ev).collect()[0]
    # eval has exactly one 8-gram; it occurs in the corpus
    assert row.n_eval_grams == 1
    assert row.n_shared_grams == 1
    assert row.eval_containment == 1.0
    # corpus grams: doc1 has 3 8-grams, doc2 has 3, doc3 has 2 — all distinct
    # across docs except doc3's first == doc1's first
    assert row.n_corpus_grams == 7


def test_contamination_estimate_zero_overlap(spark):
    from feasibility_etl_spark.operators.sketches import contamination_estimate

    docs = spark.createDataFrame([(1, "q r s t u v w x y z")], "doc_id long, text string")
    ev = spark.createDataFrame([(100, "a b c d e f g h")], "doc_id long, text string")
    row = contamination_estimate(docs, ev).collect()[0]
    assert row.n_shared_grams == 0 and row.eval_containment == 0.0


def test_contamination_predicts_exact_decontam(spark):
    # the estimator and the exact pass must agree on "is there contamination"
    from feasibility_etl_spark.operators.corpus import decontaminate
    from feasibility_etl_spark.operators.sketches import contamination_estimate

    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} a{i} b{i} c{i} d{i}") for i in range(20)]
        + [(99, "e0 e1 e2 e3 e4 e5 e6 e7 tail")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(1000, "e0 e1 e2 e3 e4 e5 e6 e7")], "doc_id long, text string")
    est = contamination_estimate(docs, ev).collect()[0]
    survivors = decontaminate(docs, ev).count()
    assert est.n_shared_grams > 0          # estimator says contaminated
    assert survivors == 20                 # exact pass drops doc 99


# --- frequent-items (approx_top_k state) ---


def test_freq_exact_below_capacity(spark, events):
    from feasibility_etl_spark.operators.sketches import (
        freq_sketches,
        merge_freq_sketches,
        top_items,
    )

    small = events.withColumn("value", F.col("value") % 40)
    daily = freq_sketches(small, ["day"], "value", max_items=100)
    merged = merge_freq_sketches(daily, [], max_items=100)
    got = {
        r.item: r.n_est for r in top_items(merged, k=100).collect()
    }
    exact = {
        str(r.value): r.n
        for r in small.groupBy("value").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # item comes back as the original type here (long); normalize
    got = {str(k): v for k, v in got.items()}
    assert got == exact  # capacity >= cardinality -> counts are exact


def test_freq_merge_equals_direct(spark, events):
    from feasibility_etl_spark.operators.sketches import (
        freq_sketches,
        merge_freq_sketches,
        top_items,
    )

    small = events.withColumn("value", F.col("value") % 40)
    merged = top_items(
        merge_freq_sketches(freq_sketches(small, ["day"], "value", max_items=64), [], max_items=64),
        k=64,
    )
    direct = top_items(
        freq_sketches(small.withColumn("g", F.lit(1)), ["g"], "value", max_items=64).drop("g"),
        k=64,
    )
    assert sorted((str(r.item), r.n_est) for r in merged.collect()) == sorted(
        (str(r.item), r.n_est) for r in direct.collect()
    )


def test_freq_heavy_hitter_survives_capacity_pressure(spark):
    from feasibility_etl_spark.operators.sketches import freq_sketches, top_items

    # one value owns half the stream; 500 distinct tail values; capacity 64
    df = spark.range(10_000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise((F.col("id") % 500) + 1)
        .alias("value")
    )
    rows = top_items(
        freq_sketches(df.withColumn("g", F.lit(1)), ["g"], "value", max_items=64).drop("g"),
        k=1,
    ).collect()
    assert str(rows[0].item) == "0"
    assert rows[0].n_est >= 5000  # never undercounts below the true count


# --- KLL threshold selection ---


def test_threshold_filter_exact_regime_equals_true_top_fraction(spark):
    from feasibility_etl_spark.operators.sketches import threshold_filter

    df = spark.range(1000).select(
        F.col("id"), ((F.col("id") * 7919) % 1000).alias("score")
    )
    kept = threshold_filter(df, "score", keep_frac=0.25).collect()
    # scores are a permutation of 0..999 -> true top 25% is score > 749
    assert sorted(r.score for r in kept) == list(range(750, 1000))


def test_threshold_filter_per_key(spark):
    from feasibility_etl_spark.operators.sketches import threshold_filter

    df = spark.range(400).select(
        (F.col("id") % 2).alias("grp"), F.col("id").alias("score")
    )
    kept = threshold_filter(df, "score", keep_frac=0.5, keys=["grp"])
    by_grp = {}
    for r in kept.collect():
        by_grp.setdefault(r.grp, []).append(r.score)
    # each stratum keeps its own top half, not a global cut
    assert len(by_grp[0]) == 100 and len(by_grp[1]) == 100
    assert min(by_grp[0]) >= 200 and min(by_grp[1]) >= 200


def test_threshold_filter_ties_at_cut_drop_together(spark):
    from feasibility_etl_spark.operators.sketches import threshold_filter

    df = spark.range(100).select((F.col("id") % 4).alias("score"))
    kept = threshold_filter(df, "score", keep_frac=0.25).collect()
    assert {r.score for r in kept} == {3}
    assert len(kept) == 25


def test_threshold_filter_rank_error_past_retention(spark):
    from feasibility_etl_spark.operators.sketches import threshold_filter

    n = 50_000
    df = spark.range(n).select(((F.col("id") * 104729) % n).alias("score"))
    kept = threshold_filter(df, "score", keep_frac=0.1, k=800).count()
    assert abs(kept - n * 0.1) / n < 0.02  # within KLL rank error
