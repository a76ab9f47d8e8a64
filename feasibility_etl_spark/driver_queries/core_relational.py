from __future__ import annotations

from ._shared import DataFrame, F, SparkSession, T, _cents, _scratch_dir, _sum_cents, _sum_cents_sql, attach_detail, horizontal_sum, load, lookup_or_insert



# ---------------------------------------------------------------- sources

def q_s_search(spark: SparkSession, sf: str) -> DataFrame:
    """S-SEARCH: explicit-schema scan + source predicate + capped, ordered read
    (the JQL search analogue: predicate and limit execute in the source —
    here Catalyst pushes both into the parquet scan)."""
    orders = load(spark, sf, "orders")
    return (
        orders.where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(100)
    )


ORACLE_S_SEARCH = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderstatus = 'F' ORDER BY o_orderkey LIMIT 100
"""


def q_s_jdbc_sink(spark: SparkSession, sf: str) -> DataFrame:
    """S-JDBC-SINK: append-shaped write + read-back audit (parquet stands in
    for the JDBC sink in the testbed; df.write.jdbc is the production path)."""
    path = _scratch_dir("feasibility_etl_spark_sink")
    orders = load(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    orders.write.mode("overwrite").parquet(path)
    back = spark.read.schema(orders.schema).parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"), _sum_cents("o_totalprice", "total_cents")
    )


ORACLE_S_JDBC_SINK = f"""
SELECT COUNT(*) AS n_rows, {_sum_cents_sql("o_totalprice", "total_cents")}
FROM orders WHERE o_orderstatus = 'F'
"""


def q_s_jsonl(spark: SparkSession, sf: str) -> DataFrame:
    """S-JSONL (granular singleton): JSONL sink + source round-trip audit
    (sources/jsonl.py) — the LLM-corpus interchange format. Writes the
    filtered orders slice as newline-delimited JSON, reads it back with
    the EXPLICIT schema (no inference pass), and audits the same
    count + exact-cents sum the JDBC sink entry uses; doubles survive the
    text round-trip exactly (Spark writes shortest-roundtrip decimal
    strings), so the oracle is the same source-side aggregate."""
    from ..sources.jsonl import read_jsonl, write_jsonl

    path = _scratch_dir("feasibility_etl_spark_jsonl_sink")
    orders = load(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    write_jsonl(orders, path, compression=None)
    back = read_jsonl(spark, path, orders.schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"), _sum_cents("o_totalprice", "total_cents")
    )


def q_s_csv(spark: SparkSession, sf: str) -> DataFrame:
    """S-CSV (granular singleton): CSV sink + source round-trip audit
    (sources/csv.py, RFC-4180 quoting) — same explicit-schema read-back
    + count/exact-cents audit as the JSONL twin; doubles survive the
    text round-trip exactly (shortest-roundtrip printing)."""
    from ..sources.csv import read_csv, write_csv

    path = _scratch_dir("feasibility_etl_spark_csv_sink")
    orders = load(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    write_csv(orders, path)
    back = read_csv(spark, path, orders.schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"), _sum_cents("o_totalprice", "total_cents")
    )


def q_s_orc(spark: SparkSession, sf: str) -> DataFrame:
    """S-ORC (granular singleton): ORC sink + source round-trip audit
    (sources/orc.py) — the columnar interchange format next to parquet.
    Writes the filtered orders slice as zlib ORC, reads it back with the
    EXPLICIT schema, and audits the same count + exact-cents sum as the
    other sink entries; doubles round-trip bit-exactly (binary columnar
    encoding, no text conversion at all)."""
    from ..sources.orc import read_orc, write_orc

    path = _scratch_dir("feasibility_etl_spark_orc_sink")
    orders = load(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    write_orc(orders, path)
    back = read_orc(spark, path, orders.schema)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"), _sum_cents("o_totalprice", "total_cents")
    )


def q_sink_suite(spark: SparkSession, sf: str) -> DataFrame:
    """S-JDBC-SINK (driver combined entry): ``part='jdbc'`` is the
    parquet-stand-in JDBC sink audit, ``part='jsonl'`` / ``part='csv'``
    the text-format round-trip audits, ``part='orc'`` the columnar ORC
    round-trip — one entry verifies all four sink surfaces."""
    jdbc = q_s_jdbc_sink(spark, sf).select(F.lit("jdbc").alias("part"), "*")
    jsonl = q_s_jsonl(spark, sf).select(F.lit("jsonl").alias("part"), "*")
    csv = q_s_csv(spark, sf).select(F.lit("csv").alias("part"), "*")
    orc = q_s_orc(spark, sf).select(F.lit("orc").alias("part"), "*")
    return jdbc.unionByName(jsonl).unionByName(csv).unionByName(orc)


ORACLE_SINK_SUITE = f"""
SELECT 'jdbc' AS part, * FROM ({ORACLE_S_JDBC_SINK})
UNION ALL
SELECT 'jsonl' AS part, * FROM ({ORACLE_S_JDBC_SINK})
UNION ALL
SELECT 'csv' AS part, * FROM ({ORACLE_S_JDBC_SINK})
UNION ALL
SELECT 'orc' AS part, * FROM ({ORACLE_S_JDBC_SINK})
"""


# ---------------------------------------------------- projections / filters

def q_p_project(spark: SparkSession, sf: str) -> DataFrame:
    """P-PROJECT: projection + rename (etl.js:127-148 analogue)."""
    return load(spark, sf, "part").select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_name").alias("part_name"),
        F.col("p_brand").alias("brand"),
        F.col("p_retailprice").alias("price"),
    )


ORACLE_P_PROJECT = """
SELECT p_partkey AS part_id, p_name AS part_name, p_brand AS brand,
       p_retailprice AS price FROM part
"""


def q_p_filter_eq(spark: SparkSession, sf: str) -> DataFrame:
    """P-FILTER-EQ: equality filter (link.type.id === '10211' analogue)."""
    return load(spark, sf, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


ORACLE_P_FILTER_EQ = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'
"""


def q_p_filter_src(spark: SparkSession, sf: str) -> DataFrame:
    """P-FILTER-SRC: conjunctive source predicate (config.json:4 JQL analogue:
    equality + != + AND, pushed into the scan by Catalyst)."""
    return (
        load(spark, sf, "orders")
        .where(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_totalprice") != 0)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


ORACLE_P_FILTER_SRC = """
SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice != 0 AND o_orderpriority = '1-URGENT'
"""


def q_p_limit(spark: SparkSession, sf: str) -> DataFrame:
    """P-LIMIT: deterministic maxResults cap (ordered, unlike the reference's
    relevance-ordered JIRA default — SURVEY §2.5)."""
    return (
        load(spark, sf, "orders")
        .orderBy("o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


ORACLE_P_LIMIT = """
SELECT o_orderkey, o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders ORDER BY o_orderkey LIMIT 10
"""


def q_p_exists(spark: SparkSession, sf: str) -> DataFrame:
    """P-EXISTS: has-any-qualifying-child predicate → left-semi join."""
    customer, orders = load(spark, sf, "customer"), load(spark, sf, "orders")
    return customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


ORACLE_P_EXISTS = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_scan_caps(spark: SparkSession, sf: str) -> DataFrame:
    """S-SEARCH ∪ P-LIMIT: both ordered, capped scans of orders,
    union-tagged so one driver entry verifies the pushed source predicate
    + cap (S-SEARCH) and the deterministic maxResults cap (P-LIMIT).
    Columns the other half doesn't produce are typed NULLs."""
    search = q_s_search(spark, sf).select(
        F.lit("search").alias("part"),
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(None).cast("string").alias("order_date"),
    )
    capped = q_p_limit(spark, sf).select(
        F.lit("limit").alias("part"),
        "o_orderkey",
        "o_orderstatus",
        F.lit(None).cast("double").alias("o_totalprice"),
        "order_date",
    )
    return search.unionByName(capped)


ORACLE_SCAN_CAPS = f"""
SELECT 'search' AS part, o_orderkey, o_orderstatus, o_totalprice,
       CAST(NULL AS VARCHAR) AS order_date
FROM ({ORACLE_S_SEARCH})
UNION ALL
SELECT 'limit' AS part, o_orderkey, o_orderstatus,
       CAST(NULL AS DOUBLE) AS o_totalprice, order_date
FROM ({ORACLE_P_LIMIT})
"""


def q_p_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P-FILTER-EQ ∪ P-FILTER-SRC: the equality filter on lineitem and
    the conjunctive source predicate on orders, union-tagged into one
    driver entry; both predicates still reach their parquet scans
    (PushedFilters pinned in PLANS.md)."""
    eq = q_p_filter_eq(spark, sf).select(
        F.lit("eq").alias("part"),
        F.col("l_orderkey").alias("key_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").alias("quantity"),
        F.lit(None).cast("double").alias("total_price"),
        F.lit(None).cast("string").alias("priority"),
    )
    src = q_p_filter_src(spark, sf).select(
        F.lit("src").alias("part"),
        F.col("o_orderkey").alias("key_id"),
        F.lit(None).cast("int").alias("line_no"),
        F.lit(None).cast("double").alias("quantity"),
        F.col("o_totalprice").alias("total_price"),
        F.col("o_orderpriority").alias("priority"),
    )
    return eq.unionByName(src)


ORACLE_P_FILTER = f"""
SELECT 'eq' AS part, l_orderkey AS key_id, l_linenumber AS line_no,
       l_quantity AS quantity, CAST(NULL AS DOUBLE) AS total_price,
       CAST(NULL AS VARCHAR) AS priority
FROM ({ORACLE_P_FILTER_EQ})
UNION ALL
SELECT 'src' AS part, o_orderkey AS key_id, CAST(NULL AS INTEGER) AS line_no,
       CAST(NULL AS DOUBLE) AS quantity, o_totalprice AS total_price,
       o_orderpriority AS priority
FROM ({ORACLE_P_FILTER_SRC})
"""


# ------------------------------------------------------------------- joins

def q_j_dim_reporter(spark: SparkSession, sf: str) -> DataFrame:
    """J-DIM-REPORTER: the SAME dim role-played twice in one query
    (jira_user as reviewer+reporter, schema.sql:68-79 → nation via customer
    and via supplier). Alias hygiene is the point (SURVEY §7.5 #4)."""
    li = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    supplier = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    cust_nation = nation.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(cust_nation), customer["c_nationkey"] == F.col("_cn_key"))
        .join(supplier, li["l_suppkey"] == supplier["s_suppkey"])
        .join(F.broadcast(supp_nation), supplier["s_nationkey"] == F.col("_sn_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _sum_cents("l_extendedprice", "revenue_cents"),
        )
    )


ORACLE_J_DIM_REPORTER = f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       COUNT(*) AS n_items, {_sum_cents_sql("l_extendedprice", "revenue_cents")}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
GROUP BY cn.n_name, sn.n_name
"""


def q_j_multiway(spark: SparkSession, sf: str) -> DataFrame:
    """J-MULTIWAY: chained LEFT joins through the dim hierarchy, one stage of
    broadcast joins (schema.sql:87-94 analogue)."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    return (
        orders.join(
            F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"], "left"
        )
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"], "left")
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "left")
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count(F.lit(1)).alias("n_orders"), _sum_cents("o_totalprice", "total_cents"))
    )


ORACLE_J_MULTIWAY = f"""
SELECT r_name AS region_name, COUNT(*) AS n_orders,
       {_sum_cents_sql("o_totalprice", "total_cents")}
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation   ON c_nationkey = n_nationkey
LEFT JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_j_attach(spark: SparkSession, sf: str) -> DataFrame:
    """J-ATTACH: per-key detail rollup joined onto parents (the N+1 request
    loop etl.js:151-189 re-expressed as one join — SURVEY §2.3)."""
    orders = load(spark, sf, "orders")
    detail = (
        load(spark, sf, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("_qty"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return attach_detail(orders, detail, "o_orderkey").select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.col("_qty"), F.lit(0)).cast("long").alias("qty_sum"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_items"),
    )


ORACLE_J_ATTACH = """
SELECT o_orderkey, o_totalprice,
       CAST(COALESCE(d.qty, 0) AS BIGINT) AS qty_sum,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_items
FROM orders LEFT JOIN (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty, COUNT(*) AS n
  FROM lineitem GROUP BY l_orderkey
) d ON o_orderkey = d.l_orderkey
"""


def q_j_lookup_insert(spark: SparkSession, sf: str) -> DataFrame:
    """J-LOOKUP-INSERT: dimension build via the engine's lookup-or-insert
    (replaces get_user_id/get_project_id, schema.sql:105-134): dense
    deterministic surrogate ids over the distinct natural keys."""
    empty_dim = spark.createDataFrame(
        [], T.StructType([T.StructField("id", T.LongType()), T.StructField("name", T.StringType())])
    )
    incoming = load(spark, sf, "customer").select(F.col("c_name").alias("name"))
    return lookup_or_insert(empty_dim, incoming, "name")


ORACLE_J_LOOKUP_INSERT = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY name) AS BIGINT) AS id, name
FROM (SELECT DISTINCT c_name AS name FROM customer)
"""


def q_j_semi(spark: SparkSession, sf: str) -> DataFrame:
    """J-SEMI: qualifying-parent semi-join (etl.js:161-190 semantics)."""
    supplier, li = load(spark, sf, "supplier"), load(spark, sf, "lineitem")
    return supplier.join(li, supplier["s_suppkey"] == li["l_suppkey"], "left_semi").select(
        "s_suppkey", "s_name"
    )


ORACLE_J_SEMI = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
"""


def q_semi_family(spark: SparkSession, sf: str) -> DataFrame:
    """J-SEMI ∪ P-EXISTS: both has-any-qualifying-child semi-joins
    (supplier→lineitem and customer→orders), union-tagged into one driver
    entry with a shared (part, entity_id, name) grain."""
    semi = q_j_semi(spark, sf).select(
        F.lit("supplier").alias("part"),
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
    )
    exists = q_p_exists(spark, sf).select(
        F.lit("customer").alias("part"),
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
    )
    return semi.unionByName(exists)


ORACLE_SEMI_FAMILY = f"""
SELECT 'supplier' AS part, s_suppkey AS entity_id, s_name AS name
FROM ({ORACLE_J_SEMI})
UNION ALL
SELECT 'customer' AS part, c_custkey AS entity_id, c_name AS name
FROM ({ORACLE_P_EXISTS})
"""


# ------------------------------------------------------------ aggregations

def q_a_worklog(spark: SparkSession, sf: str) -> DataFrame:
    """A-WORKLOG (relational route): per-parent rollup of detail entries —
    sum + count per key (helpers.js:114-136 semantics; the nested HOF route
    is pinned in tests/test_aggregates.py)."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
            F.count(F.lit(1)).alias("n_entries"),
        )
    )


ORACLE_A_WORKLOG = """
SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       COUNT(*) AS n_entries
FROM lineitem GROUP BY l_orderkey
"""


def q_a_linked(spark: SparkSession, sf: str) -> DataFrame:
    """A-LINKED: rollup across children with **0 (not null) when none
    contribute** (helpers.js:247-256) — customers with no orders get 0."""
    customer, orders = load(spark, sf, "customer"), load(spark, sf, "orders")
    joined = customer.join(orders, customer["c_custkey"] == orders["o_custkey"], "left")
    return joined.groupBy("c_custkey").agg(
        F.coalesce(F.sum(_cents("o_totalprice")), F.lit(0)).cast("long").alias("linked_cents"),
        F.count("o_orderkey").alias("n_orders"),
    )


ORACLE_A_LINKED = """
SELECT c_custkey,
       CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)), 0) AS BIGINT)
         AS linked_cents,
       COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def q_a_hsum(spark: SparkSession, sf: str) -> DataFrame:
    """A-HSUM: horizontal sum with null→0 + hours→seconds conversion that
    also rewrites the source columns (helpers.js:264-289, mutation at :281)."""
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax"
    )
    return horizontal_sum(li, ["l_quantity", "l_discount", "l_tax"], "estimate_total")


ORACLE_A_HSUM = """
SELECT l_orderkey, l_linenumber,
       COALESCE(l_quantity, 0) * 3600 AS l_quantity,
       COALESCE(l_discount, 0) * 3600 AS l_discount,
       COALESCE(l_tax, 0) * 3600 AS l_tax,
       COALESCE(l_quantity, 0) * 3600 + COALESCE(l_discount, 0) * 3600
         + COALESCE(l_tax, 0) * 3600 AS estimate_total
FROM lineitem
"""


def q_a_count(spark: SparkSession, sf: str) -> DataFrame:
    """A-COUNT: dataset cardinality (etl.js:253)."""
    return load(spark, sf, "orders").agg(F.count(F.lit(1)).alias("n"))


ORACLE_A_COUNT = "SELECT COUNT(*) AS n FROM orders"


def q_a_collect(spark: SparkSession, sf: str) -> DataFrame:
    """A-COLLECT: materialize per-group collections (helpers.js:125-130) —
    emitted as a sorted CSV string for engine-portable hashing."""
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("l_linenumber")), lambda x: x.cast("string")
                ),
            ).alias("linenumbers")
        )
    )


ORACLE_A_COLLECT = """
SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers
FROM lineitem GROUP BY l_orderkey
"""


# -------------------------------------------------------- scalar functions

def q_f_dateops(spark: SparkSession, sf: str) -> DataFrame:
    """F-DATEOPS granular singleton: date arithmetic — F-DATESUB
    (SURVEY §2.6, the reference's date-offset math in its report
    window, /root/reference/etl.js:44-54) exercised through Spark's
    date_sub/date_add/datediff builtins: ship-minus-30, due-plus-7, and
    the order→ship day distance. Dates surface as strings (the family's
    oracle-parity rule for temporal columns)."""
    o = load(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_sub("o_orderdate", 30), "yyyy-MM-dd").alias(
            "window_open"
        ),
        F.date_format(F.date_add("o_orderdate", 7), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.datediff(
            F.date_add("o_orderdate", 7), F.date_sub("o_orderdate", 30)
        )
        .cast("long")
        .alias("window_days"),
        F.datediff(F.to_date(F.lit("1998-12-31")), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_close"),
    )


ORACLE_F_DATEOPS = """
SELECT o_orderkey,
       strftime(o_orderdate - INTERVAL 30 DAY, '%Y-%m-%d') AS window_open,
       strftime(o_orderdate + INTERVAL 7 DAY, '%Y-%m-%d') AS due_date,
       CAST(date_diff('day', o_orderdate - INTERVAL 30 DAY,
                      o_orderdate + INTERVAL 7 DAY) AS BIGINT) AS window_days,
       CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS BIGINT)
         AS days_to_close
FROM orders
"""


# ------------------------------------------------------- error / quality

def q_e_drop(spark: SparkSession, sf: str) -> DataFrame:
    """E-DROP: remove parents whose children failed → left-anti join
    (etl.js:256-260). The "failed set" here: customers holding any
    still-open ('O') order are dropped, mirroring delete-parent-on-bad-child."""
    customer, orders = load(spark, sf, "customer"), load(spark, sf, "orders")
    failed = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return customer.join(
        failed, customer["c_custkey"] == failed["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


ORACLE_E_DROP = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


def q_e_gate(spark: SparkSession, sf: str) -> DataFrame:
    """E-GATE: the quality gate report (etl.js:249-278): counts before/after
    a pruning step + loss%% + pass flag at the reference's 20%% threshold.

    LAZY single-scan formulation (round 7): the report is one conditional
    aggregation — the previous two eager ``.count()`` actions at
    query-construction time scanned orders twice and ran inside bench's
    timed window on every plan audit. The loss is the reference's
    abs((after−before)/abs(before))·100 (helpers.js:234-240) in IEEE
    doubles, so values hash-match the oracle."""
    orders = load(spark, sf, "orders")
    loss = F.abs(
        (F.col("n_after") - F.col("n_before"))
        / F.abs(F.col("n_before").cast("double"))
        * F.lit(100.0)
    )
    return (
        orders.agg(
            F.count(F.lit(1)).cast("long").alias("n_before"),
            F.count(F.when(F.col("o_orderstatus") != "P", 1))
            .cast("long")
            .alias("n_after"),
        )
        .withColumn("loss_pct", loss)
        .withColumn(
            "passed",
            F.when(F.col("loss_pct") < 20.0, F.lit(1)).otherwise(F.lit(0)).cast("int"),
        )
    )


ORACLE_E_GATE = """
WITH c AS (
  SELECT COUNT(*) AS n_before,
         COUNT(*) FILTER (WHERE o_orderstatus != 'P') AS n_after
  FROM orders
)
SELECT n_before, n_after,
       ABS((n_after - n_before) / ABS(CAST(n_before AS DOUBLE)) * 100.0) AS loss_pct,
       CASE WHEN ABS((n_after - n_before) / ABS(CAST(n_before AS DOUBLE)) * 100.0) < 20.0
            THEN 1 ELSE 0 END AS passed
FROM c
"""


def q_e_isolate(spark: SparkSession, sf: str) -> DataFrame:
    """E-ISOLATE: validate-then-write split (replaces per-row insert error
    swallowing, helpers.js:95-107): conforming vs constraint-violating row
    counts for a synthesized NOT NULL constraint."""
    orders = load(spark, sf, "orders").withColumn(
        "required_field", F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    )
    # LAZY single-scan report (round 7): validate_not_null's split frames
    # stay the write-path API; the COUNT report is one conditional agg
    # instead of two eager .count() actions at query-construction time
    return orders.agg(
        F.count(F.when(F.col("required_field").isNotNull(), 1))
        .cast("long")
        .alias("n_ok"),
        F.count(F.when(F.col("required_field").isNull(), 1))
        .cast("long")
        .alias("n_rejected"),
    )


ORACLE_E_ISOLATE = """
SELECT COUNT(*) FILTER (WHERE o_orderpriority != '1-URGENT') AS n_ok,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_rejected
FROM orders
"""
