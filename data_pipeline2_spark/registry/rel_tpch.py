"""Registry part-module — see registry/__init__.py."""

from __future__ import annotations

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_pipeline2_spark.operators import (
    aggregates,
    joins,
    relational,
)
from data_pipeline2_spark.registry._core import _register, _t
from data_pipeline2_spark.streaming import events as ev

@_register(
    "filter_term",
    "SELECT vec_id, label FROM embeddings WHERE label = 2",
)
def q_filter_term(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return relational.filter_term(emb, "label", 2).select("vec_id", "label")


@_register(
    "point_lookup_doc",
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
)
def q_point_lookup_doc(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return relational.point_lookup(docs, "doc_id", 42).select(
        "doc_id", "lang", "source", "n_chars"
    )


@_register(
    "point_lookup_job",
    "SELECT event_id, event_type, user_id FROM events WHERE event_id = 123",
)
def q_point_lookup_job(spark, sf_dir):
    # events rows play the job table (FIXTURES.md §3)
    evt = _t(spark, sf_dir, "events")
    return relational.point_lookup(evt, "event_id", 123).select(
        "event_id", "event_type", "user_id"
    )


@_register(
    "project_status",
    "SELECT doc_id, lang AS status FROM documents WHERE doc_id < 25",
)
def q_project_status(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 25)
    return relational.project_status(docs, "doc_id", "lang").withColumnRenamed(
        "lang", "status"
    )


@_register(
    "fulltext_match",
    """
    SELECT doc_id, lang FROM documents
    WHERE list_contains(list_transform(
        CASE WHEN len(trim(text, ' ')) = 0 THEN []
             ELSE regexp_split_to_array(trim(text, ' '), '\\s+') END,
        t -> lower(t)), 'spark')
    """,
)
def q_fulltext_match(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return relational.fulltext_match(docs, "text", "spark").select("doc_id", "lang")


@_register(
    "metadata_filter",
    """
    SELECT event_id, event_type,
           TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k')
                    AS INT) AS k_val
    FROM events
    WHERE TRY_CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k')
                   AS INT) > 90
    """,
)
def q_metadata_filter(spark, sf_dir):
    """try_cast, not cast: get_json_object is lenient (NULL on
    malformed JSON) but ANSI cast is not — one '{"k": "oops"}' log
    line aborted the whole job before the dirty-lake gate caught it.
    Bad values read NULL and fail the predicate, mirroring the
    oracle's TRY_CAST exactly."""
    evt = _t(spark, sf_dir, "events")
    filtered = relational.metadata_filter(
        evt, "props", "$.k", lambda c: c.try_cast("int") > 90
    )
    return filtered.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").try_cast("int").alias("k_val"),
    )


# ============================================================ aggregates
# (SURVEY §2.5) + sorts/topk (§2.6) + joins (§2.7) + set ops/windows (§2.8)


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(25,2))) AS DOUBLE) / count(l_discount) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark, sf_dir):
    return aggregates.pricing_summary(_t(spark, sf_dir, "lineitem"))


@_register(
    "q3_shipping_priority",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_q3(spark, sf_dir):
    return joins.shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        segment="BUILDING",
        order_date_cut="1998-03-15",
        ship_date_cut="1998-03-15",
        k=10,
    )


@_register(
    "q5_revenue_by_nation",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = (SELECT min(r_name) FROM region)
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_q5(spark, sf_dir):
    return joins.revenue_by_nation(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        region_name=None,  # min r_name resolved in-plan, no driver job
        date_lo="1996-01-01",
        date_hi="1998-01-01",
    )


@_register(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice, l_discount
      FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND n1.n_name <> n2.n_name)
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_q7(spark, sf_dir):
    return joins.volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        date_lo="1996-01-01",
        date_hi="1998-01-01",
    )


@_register(
    "q8_market_share",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           round(
             CAST(sum(CASE WHEN n1.n_name = (SELECT min(n_name) FROM nation)
                  THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))
                  ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE),
           6) AS mkt_share
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
    WHERE p_type = 'PROMO' AND r_name = (SELECT min(r_name) FROM region)
    GROUP BY year(o_orderdate)
    ORDER BY o_year
    """,
)
def q_q8(spark, sf_dir):
    return joins.market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "part"),
        region_name=None,  # both params resolved in-plan, no driver jobs
        nation_name=None,
        type_name="PROMO",
    )


@_register(
    "q9_profit_by_nation_year",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS profit
    FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    ORDER BY nation, o_year DESC
    """,
)
def q_q9(spark, sf_dir):
    return joins.profit_by_nation_year(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "part"),
        name_like="%red%",
    )


@_register(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_q13(spark, sf_dir):
    return joins.customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@_register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_q15(spark, sf_dir):
    return joins.top_supplier(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


@_register(
    "q17_small_quantity_revenue",
    """
    WITH li_p AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#1'),
    qlim AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE)
               / count(l_quantity) * CAST(0.2 AS DOUBLE) AS q
      FROM li_p GROUP BY l_partkey)
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE)
           / CAST(7.0 AS DOUBLE) AS avg_yearly
    FROM li_p JOIN qlim ON l_partkey = pk
    WHERE l_quantity < q
    """,
)
def q_q17(spark, sf_dir):
    return joins.small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"), brand="Brand#1"
    )


@_register(
    "q19_banded_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#10' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#11' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
)
def q_q19(spark, sf_dir):
    return joins.banded_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        bands=[
            ("Brand#1", 1, 11, 1, 5),
            ("Brand#10", 10, 20, 1, 10),
            ("Brand#11", 20, 30, 1, 15),
        ],
    )


@_register(
    "q22_dormant_high_balance",
    """
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE)
               / count(c_acctbal)
        FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1998-05-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_q22(spark, sf_dir):
    return joins.dormant_high_balance(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"),
        since="1998-05-01",
    )


@_register(
    "sort_limit",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
    """,
)
def q_sort_limit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return relational.sort_limit(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        [F.desc("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        10,
    )


@_register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders)
    WHERE rank <= 3
    """,
)
def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return relational.topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.desc("o_totalprice"), F.col("o_orderkey")],
        3,
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")


@_register(
    "set_ops",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def q_set_ops(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = orders.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    negative = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return building.intersect(big).exceptAll(negative).distinct()


@_register(
    "window_funcs",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           round(o_totalprice - lag(o_totalprice) OVER w, 2) AS delta_prev,
           CAST(row_number() OVER w AS INT) AS order_seq
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_funcs(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2
        ).alias("delta_prev"),
        F.row_number().over(w).alias("order_seq"),
    )


@_register(
    "rollup_counts",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return aggregates.rollup_counts(li, ["l_returnflag", "l_linestatus"])


@_register(
    "agg_distribution",
    """
    SELECT event_type, count(value) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(25,2))) AS DOUBLE) / count(value) AS avg_v,
           min(value) AS min_v, max(value) AS max_v,
           round(quantile_cont(value, 0.5), 4) AS median_v
    FROM events GROUP BY event_type
    """,
)
def q_agg_distribution(spark, sf_dir):
    evt = _t(spark, sf_dir, "events")
    return aggregates.distribution_stats(evt, "value", ["event_type"])


@_register(
    "join_lookup",
    """
    SELECT c_custkey, c_name, n_name, r_name FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE c_custkey < 100
    """,
)
def q_join_lookup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    step = joins.join_lookup(
        cust, nation, cust["c_nationkey"] == nation["n_nationkey"]
    )
    out = joins.join_lookup(step, region, step["n_regionkey"] == region["r_regionkey"])
    return out.select("c_custkey", "c_name", "n_name", "r_name")


@_register(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_q4(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    window_orders = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    slow = window_orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        slow.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "q10_returned_revenue",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q_q10(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,4)"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@_register(
    "q14_promo_revenue",
    """
    SELECT round(100.0 *
        CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))
                 ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
        / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4))) AS DOUBLE),
        6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-02-01'
    """,
)
def q_q14(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,4)"
    )
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(25,4)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


@_register(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(25,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
    HAVING sum(CAST(l_quantity AS DECIMAL(25,2))) > 200
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def q_q18(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # aggregate-below-join: quantity sums collapse lineitem to one row
    # per orderkey (and the >200 filter prunes to a handful) before any
    # join touches it — grouping key ⊇ join key makes this exact
    li_agg = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("__qty"))
        .withColumn("total_qty", F.col("__qty").cast("double"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li_agg, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@_register(
    "join_outer_zero_orders",
    """
    SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    HAVING count(o_orderkey) = 0
    """,
)
def q_join_outer(spark, sf_dir):
    """Customers with zero LARGE orders (the synthetic key space is
    dense, so zero orders outright matches nobody — the filtered left
    join keeps the NULL-preserving outer semantics non-vacuous)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .filter(F.col("n_orders") == 0)
    )


@_register(
    "join_asof",
    """
    WITH l AS (SELECT * FROM events WHERE event_type <> 'error'),
         r AS (SELECT user_id, ts, max(event_id) AS err_event_id
               FROM events WHERE event_type = 'error'
               GROUP BY user_id, ts)
    SELECT l.event_id, l.user_id, l.event_type, r.err_event_id,
           CAST(epoch_us(l.ts) - epoch_us(r.ts) AS BIGINT) AS lag_us
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q_join_asof(spark, sf_dir):
    """As-of join: each non-error event picks up the user's most recent
    error at-or-before it (oracle: DuckDB's native ASOF LEFT JOIN; the
    engine's shuffle-minimal union+window formulation is joins.join_asof).
    Right side deduped to unique (user_id, ts) — the determinism contract
    both implementations share."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "error").select(
        "event_id", "user_id", "event_type", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_event_id"))
        .withColumn("err_ts", F.col("ts"))
    )
    out = joins.join_asof(
        left, right, ["user_id"], "ts", "ts", ["err_event_id", "err_ts"]
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "err_event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("err_ts")))
        .cast("long")
        .alias("lag_us"),
    )


@_register(
    "join_range",
    """
    WITH iv AS (SELECT event_id AS err_event_id, user_id, ts AS w_start,
                       ts + INTERVAL 24 HOUR AS w_end
                FROM events WHERE event_type = 'error')
    SELECT iv.err_event_id, iv.user_id, count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(25,2))) AS DOUBLE) AS total_value
    FROM events e JOIN iv
      ON e.user_id = iv.user_id AND e.ts >= iv.w_start AND e.ts < iv.w_end
    GROUP BY iv.err_event_id, iv.user_id
    """,
)
def q_join_range(spark, sf_dir):
    """Interval join at scale: per error event, activity of the same user
    in the following 24h — bucketed equi-join (joins.join_range), NOT the
    nested-loop inequality join the oracle runs."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_event_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("w_end"),
    )
    day_us = 24 * 3600 * 1_000_000
    joined = joins.join_range(
        ev.select("user_id", "ts", "value"),
        iv,
        ["user_id"],
        "ts",
        "w_start",
        "w_end",
        day_us,
    )
    return joined.groupBy("err_event_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        aggregates.exact_sum(F.col("value")).alias("total_value"),
    )


@_register(
    "hypertable_rollup",
    """
    WITH fine AS (
      SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket, event_type,
             count(*) AS n, sum(CAST(value AS DECIMAL(25,2))) AS s
      FROM events GROUP BY 2, 3),
    coarse AS (
      SELECT 'day' AS grain, date_trunc('day', ts) AS bucket, event_type,
             count(*) AS n, sum(CAST(value AS DECIMAL(25,2))) AS s
      FROM events GROUP BY 2, 3)
    SELECT grain, bucket, event_type, CAST(n AS BIGINT) AS n,
           CAST(s AS DOUBLE) AS total,
           round(CAST(s AS DOUBLE) / n, 6) AS avg_v
    FROM (SELECT * FROM fine UNION ALL SELECT * FROM coarse)
    """,
)
def q_hypertable_rollup(spark, sf_dir):
    """Continuous-aggregate rollup; the oracle aggregates BOTH grains
    directly from raw rows, so parity proves rollup-of-partials ==
    direct aggregation (exactness of the decimal partial sums)."""
    return aggregates.hypertable_rollup(_t(spark, sf_dir, "events"))


@_register(
    "cube_counts",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@_register(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(25,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM orders WHERE o_custkey < 500
    """,
)
def q_window_running_sum(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@_register(
    "scalar_functions",
    """
    SELECT event_id,
           upper(event_type) AS etype_upper,
           substring(event_type, 1, 3) AS etype_prefix,
           CAST(length(props) AS INT) AS props_len,
           CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(dayofweek(ts) + 1 AS INT) AS dow,
           date_trunc('day', ts) AS day_start,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_s,
           round(abs(value - 10.0), 2) AS dist10,
           round(sqrt(abs(value)), 6) AS sqrt_v,
           CAST(floor(value) AS BIGINT) AS value_floor,
           CAST(event_id % 7 AS BIGINT) AS id_mod,
           concat_ws(':', event_type, user_id::VARCHAR) AS type_user
    FROM events WHERE event_id < 500
    """,
)
def q_scalar_functions(spark, sf_dir):
    evt = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return evt.select(
        "event_id",
        F.upper("event_type").alias("etype_upper"),
        F.substring("event_type", 1, 3).alias("etype_prefix"),
        F.length("props").cast("int").alias("props_len"),
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofweek("ts").alias("dow"),  # 1=Sunday (duckdb dayofweek+1)
        F.date_trunc("day", F.col("ts")).alias("day_start"),
        F.unix_timestamp("ts").alias("unix_s"),
        F.round(F.abs(F.col("value") - 10.0), 2).alias("dist10"),
        F.round(F.sqrt(F.abs("value")), 6).alias("sqrt_v"),
        F.floor("value").cast("long").alias("value_floor"),
        (F.col("event_id") % 7).alias("id_mod"),
        F.concat_ws(":", "event_type", F.col("user_id").cast("string")).alias(
            "type_user"
        ),
    )


@_register(
    "array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           round(embedding[1]::DOUBLE, 6) AS first_val,
           round(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum'), 6) AS vec_sum,
           round(list_aggregate(list_transform(embedding, x -> abs(x::DOUBLE)), 'max'), 6) AS vec_absmax,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings WHERE vec_id < 100
    """,
)
def q_array_functions(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at(dbl, 1), 6).alias("first_val"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda a, x: a + x), 6
        ).alias("vec_sum"),
        F.round(
            F.array_max(F.transform(dbl, lambda x: F.abs(x))), 6
        ).alias("vec_absmax"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias(
            "n_positive"
        ),
    )


