"""B6 sort / limit / set operations / distinct."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t


@register(
    "sort_nulls_limit",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               NULLIF(o_orderpriority, '3-MEDIUM') AS prio
        FROM orders
        ORDER BY prio ASC NULLS FIRST, o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    tags=("B6",),
    doc="Multi-key global sort with explicit null ordering + LIMIT (total "
    "tie-break by key so the top-100 is unique).",
)
def sort_nulls_limit(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("prio"),
            "o_totalprice",
        )
        .orderBy(
            F.col("prio").asc_nulls_first(), F.col("o_totalprice").desc(), F.col("o_orderkey")
        )
        .limit(100)
        .select("o_orderkey", "o_orderstatus", "prio")
    )


@register(
    "setop_union",
    oracle="""
        SELECT 'cust' AS src, c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
        UNION ALL
        SELECT 'supp' AS src, s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9500
        ORDER BY src, nationkey
    """,
    tags=("B6",),
    doc="UNION ALL with aligned schemas (unionByName).",
)
def setop_union(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9500)
        .select(F.lit("cust").alias("src"), F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9500)
        .select(F.lit("supp").alias("src"), F.col("s_nationkey").alias("nationkey"))
    )
    return c.unionByName(s).orderBy("src", "nationkey")


@register(
    "setop_union_distinct",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
        UNION
        SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 9000
        ORDER BY nationkey
    """,
    tags=("B6",),
    doc="UNION (distinct).",
)
def setop_union_distinct(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.unionByName(s).distinct().orderBy("nationkey")


@register(
    "setop_intersect_except",
    oracle="""
        WITH cust_k AS (SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000),
             supp_k AS (SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000)
        SELECT 'intersect' AS op, k FROM (SELECT k FROM cust_k INTERSECT SELECT k FROM supp_k)
        UNION ALL
        SELECT 'except' AS op, k FROM (SELECT k FROM cust_k EXCEPT SELECT k FROM supp_k)
        ORDER BY op, k
    """,
    tags=("B6",),
    doc="INTERSECT / EXCEPT (distinct variants).",
)
def setop_intersect_except(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").alias("k"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").alias("k"))
    )
    inter = c.intersect(s).select(F.lit("intersect").alias("op"), "k")
    exc = c.distinct().subtract(s.distinct()).select(F.lit("except").alias("op"), "k")
    return inter.unionByName(exc).orderBy("op", "k")


@register(
    "setop_intersect_except_all",
    oracle="""
        WITH a AS (SELECT l_returnflag AS f FROM lineitem WHERE l_quantity > 45),
             b AS (SELECT l_returnflag AS f FROM lineitem WHERE l_discount > 0.08)
        SELECT 'iall' AS op, f, COUNT(*) AS n FROM (SELECT f FROM a INTERSECT ALL SELECT f FROM b) GROUP BY f
        UNION ALL
        SELECT 'eall' AS op, f, COUNT(*) AS n FROM (SELECT f FROM a EXCEPT ALL SELECT f FROM b) GROUP BY f
        ORDER BY op, f
    """,
    tags=("B6",),
    doc="INTERSECT ALL / EXCEPT ALL (bag semantics), aggregated to stay deterministic.",
)
def setop_intersect_except_all(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") > 45).select(F.col("l_returnflag").alias("f"))
    b = li.where(F.col("l_discount") > 0.08).select(F.col("l_returnflag").alias("f"))
    iall = (
        a.intersectAll(b)
        .groupBy("f")
        .agg(F.count("*").alias("n"))
        .select(F.lit("iall").alias("op"), "f", "n")
    )
    eall = (
        a.exceptAll(b)
        .groupBy("f")
        .agg(F.count("*").alias("n"))
        .select(F.lit("eall").alias("op"), "f", "n")
    )
    return iall.unionByName(eall).orderBy("op", "f")


@register(
    "distinct_dropdup",
    oracle="""
        SELECT DISTINCT o_orderstatus, o_orderpriority
        FROM orders
        ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("B6",),
    doc="DISTINCT / dropDuplicates on a column subset.",
)
def distinct_dropdup(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderstatus", "o_orderpriority")
        .dropDuplicates(["o_orderstatus", "o_orderpriority"])
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@register(
    "dedup_keep_first",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate
        FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders)
        WHERE rn = 1
        ORDER BY o_custkey
    """,
    tags=("B6",),
    doc="Deterministic 'keep first per key' dedup (the well-defined form of "
    "dropDuplicates-with-subset: argmin by sort key).",
)
def dedup_keep_first(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select("o_custkey", "o_orderkey", "o_orderdate", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_custkey")
    )


@register(
    "setop_family",
    oracle="""
        WITH cust_k AS (SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer WHERE c_acctbal > 9000),
             supp_k AS (SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier WHERE s_acctbal > 9000)
        SELECT 'uall' AS op, k, COUNT(*) AS n
        FROM (SELECT k FROM cust_k UNION ALL SELECT k FROM supp_k) GROUP BY k
        UNION ALL
        SELECT 'udist' AS op, k, 1 AS n
        FROM (SELECT k FROM cust_k UNION SELECT k FROM supp_k)
        UNION ALL
        SELECT 'intersect' AS op, k, 1 AS n
        FROM (SELECT k FROM cust_k INTERSECT SELECT k FROM supp_k)
        UNION ALL
        SELECT 'except' AS op, k, 1 AS n
        FROM (SELECT k FROM cust_k EXCEPT SELECT k FROM supp_k)
        ORDER BY op, k
    """,
    tags=("B6",),
    doc="UNION ALL / UNION / INTERSECT / EXCEPT as labeled branches — one "
    "graded slot covers both §2 set-operation rows.",
)
def setop_family(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").cast("long").alias("k"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").cast("long").alias("k"))
    )
    uall = (
        c.unionByName(s)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .select(F.lit("uall").alias("op"), "k", "n")
    )
    udist = c.unionByName(s).distinct().select(F.lit("udist").alias("op"), "k", F.lit(1).alias("n"))
    inter = c.intersect(s).select(F.lit("intersect").alias("op"), "k", F.lit(1).alias("n"))
    exc = c.distinct().subtract(s.distinct()).select(
        F.lit("except").alias("op"), "k", F.lit(1).alias("n")
    )
    out = uall.unionByName(udist).unionByName(inter).unionByName(exc)
    return out.select("op", "k", F.col("n").cast("long").alias("n")).orderBy("op", "k")
