"""TPC-H-shaped analytical queries over the synthetic star schema — the
kind of workload the reference's users run through Athena today
(SURVEY.md §2 Tier B: the full delegated relational surface). Q1/Q3/Q5
shapes live in aggregates.py / joins.py; this module covers the remaining
canonical shapes: EXISTS-per-order (Q4), volume shipping (Q7), returned
items (Q10), ship-mode buckets (Q12-ish), promo revenue share (Q14-ish),
disjunctive predicates (Q19-ish), top-spenders (Q18-ish).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import duck_sql, t, table_sql
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum


@register(
    "tpch_q4_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-07-01'
          AND o_orderdate < TIMESTAMP '1995-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("B3", "B4"),
    doc="Q4 shape: EXISTS-filtered priority counts (semi-join rewrite).",
)
def tpch_q4_order_priority(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    window = o.where(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    keep = window.join(
        li, (li.l_orderkey == window.o_orderkey) & (li.l_shipdate > window.o_orderdate), "left_semi"
    )
    return (
        keep.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
        SELECT supp_nation, cust_nation, yr, {sql_dsum('volume')} AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS yr,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_regionkey = 0 AND n2.n_regionkey = 1)
                OR (n1.n_regionkey = 1 AND n2.n_regionkey = 0)))
        GROUP BY supp_nation, cust_nation, yr
        ORDER BY supp_nation, cust_nation, yr
    """,
    tags=("B3", "B4"),
    doc="Q7 shape: bidirectional nation-pair shipping volume by year.",
)
def tpch_q7_volume_shipping(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").alias("n1")
    n2 = t(spark, sf_dir, "nation").alias("n2")
    j = (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2.n_nationkey"))
        .where(
            ((F.col("n1.n_regionkey") == 0) & (F.col("n2.n_regionkey") == 1))
            | ((F.col("n1.n_regionkey") == 1) & (F.col("n2.n_regionkey") == 0))
        )
    )
    return (
        j.select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").alias("yr"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "yr")
        .agg(dsum("volume").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "yr")
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("B3", "B4", "B6"),
    doc="Q10 shape: top-20 customers by returned-item revenue.",
)
def tpch_q10_returned_items(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .where(
            (F.col("l_returnflag") == "R")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@register(
    "tpch_q12_priority_buckets",
    oracle="""
        SELECT l_linestatus,
               COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_count,
               COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    tags=("B3", "B4"),
    doc="Q12 shape: priority-bucketed counts over a joined time slice.",
)
def tpch_q12_priority_buckets(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_count"),
            F.count(F.when(~high, 1)).alias("low_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q14_promo_share",
    oracle="""
        SELECT ROUND(
            100.0 * CAST(SUM(CAST(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount)
                                       ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
                  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE),
            6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-04-01'
    """,
    tags=("B3", "B4"),
    doc="Q14 shape: promo revenue share (conditional agg ratio).",
)
def tpch_q14_promo_share(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(
            (F.col("l_shipdate") >= F.lit("1995-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp"))
        )
        .agg(
            F.round(100.0 * dsum(promo) / dsum(disc), 6).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q19_disjunctive",
    oracle=f"""
        SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, COUNT(*) AS n
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#12' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)
    """,
    tags=("B2", "B3"),
    doc="Q19 shape: disjunctive multi-branch predicates across a join.",
)
def tpch_q19_disjunctive(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(5, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 40) & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .where(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q18_top_spenders",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 150)
        SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               {sql_dsum('l_quantity')} AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c_custkey, o_orderkey, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 25
    """,
    tags=("B3", "B4", "B6"),
    doc="Q18 shape: large-volume orders via HAVING subquery + top-25.",
)
def tpch_q18_top_spenders(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sq"))
        .where(F.col("sq") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(big, o.o_orderkey == F.col("big_orderkey"), "left_semi")
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(dsum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "total_qty",
        )
    )


_Q2 = """
    SELECT s_suppkey, s_name, n_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM {supplier} AS supplier JOIN {nation} ON s_nationkey = n_nationkey
    WHERE s_acctbal = (SELECT MIN(s2.s_acctbal) FROM {supplier} s2
                       WHERE s2.s_nationkey = supplier.s_nationkey)
    ORDER BY s_suppkey
"""


@register(
    "tpch_q2_min_per_group",
    oracle=duck_sql(_Q2),
    tags=("B2", "B3"),
    doc="Q2 shape: min-value row per group via correlated scalar subquery.",
)
def tpch_q2_min_per_group(spark, sf_dir):
    return table_sql(spark, sf_dir, _Q2)


_Q15 = """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS total_revenue
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM {supplier} JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
"""


@register(
    "tpch_q15_top_supplier",
    oracle=duck_sql(_Q15),
    tags=("B2", "B3", "B4"),
    doc="Q15 shape: top supplier by windowed revenue (CTE + scalar subquery max).",
)
def tpch_q15_top_supplier(spark, sf_dir):
    return table_sql(spark, sf_dir, _Q15)


_Q20 = """
    SELECT s_suppkey, s_name
    FROM {supplier} JOIN {nation} ON s_nationkey = n_nationkey
    WHERE n_regionkey <= 2
      AND s_suppkey IN (
          SELECT l_suppkey FROM {lineitem}
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          GROUP BY l_suppkey
          HAVING SUM(l_quantity) > 400)
    ORDER BY s_suppkey
"""


@register(
    "tpch_q20_nested_in",
    oracle=duck_sql(_Q20),
    tags=("B2", "B3", "B4"),
    doc="Q20 shape: nested IN over an aggregated subquery.",
)
def tpch_q20_nested_in(spark, sf_dir):
    return table_sql(spark, sf_dir, _Q20)


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
        SELECT l_orderkey,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               CAST(o_orderdate AS DATE) AS o_orderdate
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    tags=("B3", "B4", "B6"),
    doc="Q3 shape: unshipped-orders shipping priority (segment filter, "
    "3-way join, top-10 by revenue).",
)
def tpch_q3_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .where(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("o_orderdate"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
        SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue, COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("B2", "B4"),
    doc="Q6 shape: forecast revenue change — pure scan+filter+agg, the "
    "pushdown benchmark (all predicates reach the parquet reader).",
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("B3", "B4"),
    doc="Q13 shape: customer order-count distribution (left join with "
    "join-condition filter, double aggregation).",
)
def tpch_q13_order_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (F.col("o_orderpriority") != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_Q22 = """
    WITH avg_bal AS (
        SELECT AVG(c_acctbal) AS ab FROM {customer} WHERE c_acctbal > 0),
    eligible AS (
        SELECT c_custkey, c_nationkey % 7 AS cntrycode, c_acctbal
        FROM {customer}, avg_bal
        WHERE c_acctbal > ab
          AND NOT EXISTS (SELECT 1 FROM {orders}
                          WHERE o_custkey = c_custkey AND o_totalprice > 350000))
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM eligible
    GROUP BY cntrycode
    ORDER BY cntrycode
"""


@register(
    "tpch_q22_global_sales",
    oracle=duck_sql(_Q22),
    tags=("B2", "B3", "B4"),
    doc="Q22 shape: wealthy inactive customers by country code (scalar "
    "subquery threshold + NOT EXISTS anti-join).",
)
def tpch_q22_global_sales(spark, sf_dir):
    return table_sql(spark, sf_dir, _Q22)


@register(
    "tpch_q8_market_share",
    oracle=f"""
        WITH all_nations AS (
            SELECT year(o_orderdate) AS yr,
                   l_extendedprice * (1 - l_discount) AS volume,
                   n2.n_regionkey AS supp_region
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE n1.n_regionkey = 1 AND p_type = 'PROMO')
        SELECT yr,
               ROUND(CAST(SUM(CAST(CASE WHEN supp_region = 2 THEN volume ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
                     / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE), 6) AS mkt_share
        FROM all_nations
        GROUP BY yr
        ORDER BY yr
    """,
    tags=("B3", "B4"),
    doc="Q8 shape: a region's market share of PROMO-part volume by year.",
)
def tpch_q8_market_share(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n1 = t(spark, sf_dir, "nation").alias("n1")
    n2 = t(spark, sf_dir, "nation").alias("n2")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2.n_nationkey"))
        .where((F.col("n1.n_regionkey") == 1) & (F.col("p_type") == "PROMO"))
        .select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("volume"),
            F.col("n2.n_regionkey").alias("supp_region"),
        )
    )
    num = F.sum(
        F.when(F.col("supp_region") == 2, F.col("volume")).otherwise(F.lit(0)).cast("decimal(38,6)")
    ).cast("double")
    den = F.sum(F.col("volume").cast("decimal(38,6)")).cast("double")
    return base.groupBy("yr").agg(F.round(num / den, 6).alias("mkt_share")).orderBy("yr")


@register(
    "tpch_q9_product_profit",
    oracle=f"""
        SELECT n_name AS nation, year(o_orderdate) AS yr,
               {sql_dsum('l_extendedprice * (1 - l_discount) - 0.4 * p_retailprice * l_quantity')} AS profit
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%a%'
        GROUP BY n_name, year(o_orderdate)
        ORDER BY nation, yr DESC
    """,
    tags=("B3", "B4"),
    doc="Q9 shape: product-line profit by supplier nation and year (supply "
    "cost approximated from retail price — no partsupp table in fixtures).",
)
def tpch_q9_product_profit(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    n = t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .join(s, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .where(F.col("p_name").like("%a%"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("yr"))
        .agg(dsum(profit).alias("profit"))
        .orderBy(F.col("nation"), F.col("yr").desc())
    )


_Q16 = """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM {part} JOIN {lineitem} ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register(
    "tpch_q16_supplier_counts",
    oracle=duck_sql(_Q16),
    tags=("B3", "B4"),
    doc="Q16 shape: distinct supplier counts by part attributes with NOT IN "
    "exclusion.",
)
def tpch_q16_supplier_counts(spark, sf_dir):
    return table_sql(spark, sf_dir, _Q16)


_Q21 = """
    SELECT s_name, COUNT(*) AS numwait
    FROM {supplier}
    JOIN {lineitem} l1 ON s_suppkey = l1.l_suppkey
    JOIN {orders} ON o_orderkey = l1.l_orderkey
    JOIN {nation} ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate
      AND EXISTS (SELECT 1 FROM {lineitem} l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND n_regionkey <= 2
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@register(
    "tpch_q21_waiting_suppliers",
    oracle=duck_sql(_Q21),
    tags=("B3", "B4"),
    doc="Q21 shape: suppliers who kept multi-supplier orders waiting "
    "(EXISTS over sibling lineitems).",
)
def tpch_q21_waiting_suppliers(spark, sf_dir):
    return table_sql(spark, sf_dir, _Q21)


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
        SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("B3", "B4"),
    doc="Canonical TPC-H Q5: local supplier volume. Star join where the "
    "customer and supplier legs must agree on nation — dims broadcast, "
    "the two fact-side shuffles are the only wide stages.",
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    cu = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        cu.join(o, cu.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (cu.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
        SELECT CAST({sql_dsum('l_extendedprice')} / 7.0 AS DOUBLE) AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#12'
          AND p_type = 'PROMO'
          AND l_quantity < (
              SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p_partkey)
    """,
    tags=("B3", "B4", "B2"),
    doc="Canonical TPC-H Q17: small-quantity-order revenue. Correlated "
    "scalar AVG subquery — Catalyst decorrelates to an aggregate+join; "
    "the per-part average is tiny and broadcastable.",
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where((F.col("p_brand") == "Brand#12") & (F.col("p_type") == "PROMO"))
        .join(F.broadcast(per_part_avg), F.col("l_partkey") == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).cast("double").alias("avg_yearly"))
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
        SELECT l_partkey, {sql_dsum('l_extendedprice * l_quantity')} AS part_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_regionkey = 1
        GROUP BY l_partkey
        HAVING {sql_dsum('l_extendedprice * l_quantity')} > 0.0004 * (
            SELECT {sql_dsum('l_extendedprice * l_quantity')}
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_regionkey = 1)
        ORDER BY part_value DESC, l_partkey
    """,
    tags=("B2", "B3", "B4"),
    doc="Canonical TPC-H Q11 shape (important stock): per-group value with a "
    "HAVING threshold taken from an uncorrelated scalar subquery over the "
    "same filtered base. No partsupp table in the synthetic schema, so "
    "stock value is lineitem extendedprice*quantity for suppliers in one "
    "region (reference consumers run the same shape through Athena; "
    "SURVEY.md §2 Tier B). Scale: the scalar total is a partial-agg single "
    "row broadcast into the HAVING filter — one fact shuffle on l_partkey, "
    "never a second pass over lineitem joined to itself.",
)
def tpch_q11_important_stock(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    region_suppliers = s.join(
        F.broadcast(n.where(F.col("n_regionkey") == 1)),
        s.s_nationkey == n.n_nationkey,
        "left_semi",
    ).select("s_suppkey")
    base = li.join(F.broadcast(region_suppliers), li.l_suppkey == F.col("s_suppkey")).select(
        "l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("stock_value")
    )
    vals = base.groupBy("l_partkey").agg(dsum("stock_value").alias("part_value"))
    total = base.agg(dsum("stock_value").alias("total_value"))
    return (
        vals.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.lit(0.0004) * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )
