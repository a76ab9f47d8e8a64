"""Quality gates (SURVEY §2.8): E-ISOLATE, quantile filters, profiling."""

from __future__ import annotations

from feasibility_etl_spark.quality.gates import validate_not_null


def test_validate_not_null_split(spark):
    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("c", None)], "k string, v int"
    )
    ok, bad = validate_not_null(df, ["k", "v"])
    assert ok.count() == 1
    assert bad.count() == 2


def test_validate_not_null_no_constraints(spark):
    df = spark.createDataFrame([("a",)], "k string")
    ok, bad = validate_not_null(df, [])
    assert ok.count() == 1 and bad.count() == 0


def test_filter_by_quantile_global_and_per_key(spark):
    from feasibility_etl_spark.quality.gates import filter_by_quantile

    df = spark.createDataFrame(
        [("en", float(i)) for i in range(1, 5)] + [("de", 10.0), ("de", 20.0)],
        "lang string, score double",
    )
    # per-key median: en median 2.5 -> keeps 3,4; de median 15 -> keeps 20
    got = sorted((r.lang, r.score) for r in
                 filter_by_quantile(df, "score", 0.5, keys=["lang"]).collect())
    assert got == [("de", 20.0), ("en", 3.0), ("en", 4.0)]
    # global: median of {1,2,3,4,10,20} = 3.5 -> keeps 4,10,20
    got_g = sorted(r.score for r in filter_by_quantile(df, "score", 0.5).collect())
    assert got_g == [4.0, 10.0, 20.0]
    # q=0 keeps everything
    assert filter_by_quantile(df, "score", 0.0).count() == 6


def test_filter_by_quantile_approx_mode(spark):
    from feasibility_etl_spark.quality.gates import filter_by_quantile

    df = spark.range(1000).selectExpr("'en' AS lang", "CAST(id AS DOUBLE) AS score")
    exact = filter_by_quantile(df, "score", 0.5, keys=["lang"])
    approx = filter_by_quantile(df, "score", 0.5, keys=["lang"], exact=False)
    # sketch threshold lands within its accuracy bound of the true median
    n_exact, n_approx = exact.count(), approx.count()
    assert abs(n_exact - n_approx) <= 2


def test_profile_columns_stats(spark):
    from feasibility_etl_spark.quality.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None), (2, None, 1.0), (None, "a", 4.0)],
        "k long, s string, v double",
    )
    got = {r.col_name: r for r in profile_columns(df).collect()}
    assert set(got) == {"k", "s", "v"}
    k = got["k"]
    assert (k.n_rows, k.n_nulls, k.n_distinct) == (4, 1, 2)
    assert (k.min_val, k.max_val) == ("1", "2")
    assert k.mean_val == (1 + 2 + 2) / 3  # exact integral mean over non-nulls
    s = got["s"]
    assert (s.n_nulls, s.n_distinct, s.min_val, s.max_val) == (1, 2, "a", "b")
    assert s.mean_val is None  # non-integral: no order-dependent double mean
    assert got["v"].mean_val is None


def test_profile_columns_approx_mode_no_expand(spark):
    from feasibility_etl_spark.quality.profile import profile_columns

    df = spark.range(1000).selectExpr("id", "id % 7 AS g")
    prof = profile_columns(df, approx_distinct=True, rsd=0.01)
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan  # HLL++ keeps the plan a plain partial/final agg
    got = {r.col_name: r for r in prof.collect()}
    assert got["g"].n_distinct == 7  # HLL exact at tiny cardinality
    assert abs(got["id"].n_distinct - 1000) <= 30
