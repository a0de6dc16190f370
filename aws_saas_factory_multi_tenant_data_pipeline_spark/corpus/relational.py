"""B1 scans + B2 projection/filter/predicates/conditionals/casts."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t


@register(
    "scan_project",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS disc_price
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01'
        ORDER BY l_orderkey, l_linenumber
    """,
    tags=("B1", "B2"),
    doc="Parquet scan with projection + pushed filter (ref A7 scan shape).",
)
def scan_project(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,4)")
            .cast("double")
            .alias("disc_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "filter_predicates",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_totalprice BETWEEN 1000 AND 5000
          AND o_orderstatus IN ('O', 'F')
          AND o_orderpriority LIKE '1-%'
          AND o_custkey IS NOT NULL
        ORDER BY o_orderkey
    """,
    tags=("B2",),
    doc="BETWEEN / IN / LIKE / IS NOT NULL / boolean algebra.",
)
def filter_predicates(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.where(
            F.col("o_totalprice").between(1000, 5000)
            & F.col("o_orderstatus").isin("O", "F")
            & F.col("o_orderpriority").like("1-%")
            & F.col("o_custkey").isNotNull()
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


@register(
    "conditional_exprs",
    oracle="""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 'debt'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS bal_band,
               COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg,
               CAST(GREATEST(CAST(c_acctbal AS DECIMAL(18,2)), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS pos_bal,
               LEAST(c_nationkey, 10) AS nk_cap
        FROM customer
        ORDER BY c_custkey
    """,
    tags=("B2",),
    doc="CASE WHEN / coalesce / nullif / greatest / least.",
)
def conditional_exprs(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "seg"
        ),
        F.greatest(F.col("c_acctbal").cast("decimal(18,2)"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("pos_bal"),
        F.least(F.col("c_nationkey"), F.lit(10)).alias("nk_cap"),
    ).orderBy("c_custkey")


@register(
    "casts",
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
               CAST(o_orderkey AS DOUBLE) AS key_dbl,
               CAST(o_orderdate AS DATE) AS od_date,
               STRFTIME(o_orderdate, '%Y-%m-%d') AS od_str,
               CAST(SUBSTR(STRFTIME(o_orderdate, '%Y-%m-%d'), 1, 4) AS INTEGER) AS od_year
        FROM orders
        ORDER BY o_orderkey
    """,
    tags=("B2",),
    doc="Casts across string/date/timestamp/decimal/double.",
)
def casts(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price_dec"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_str"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_orderdate").cast("date").alias("od_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od_str"),
        F.substring(F.date_format("o_orderdate", "yyyy-MM-dd"), 1, 4)
        .cast("int")
        .alias("od_year"),
    ).orderBy("o_orderkey")


@register(
    "tenant_scoped_scan",
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE user_id = 7 AND event_type = 'click'
        ORDER BY event_id
    """,
    tags=("A7", "B2"),
    doc="The reference's saved-query shape (tenant-scoped SELECT *; "
    "athena-saved-query-stack.ts:13-19) — user_id stands in for the tenant key.",
)
def tenant_scoped_scan(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        e.where((F.col("user_id") == 7) & (F.col("event_type") == "click"))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


@register(
    "exprs_casts_pack",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice < 1000 THEN 'small'
                    WHEN o_totalprice < 100000 THEN 'mid'
                    ELSE 'large' END AS price_band,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_adj,
               CAST(GREATEST(CAST(o_totalprice AS DECIMAL(18,2)),
                             CAST(50000 AS DECIMAL(18,2))) AS DOUBLE) AS price_floor50k,
               LEAST(CAST(o_custkey AS BIGINT), 100) AS cust_cap,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
               CAST(o_orderkey AS DOUBLE) AS key_dbl,
               CAST(o_orderdate AS DATE) AS od_date,
               STRFTIME(o_orderdate, '%Y-%m-%d') AS od_str,
               CAST(SUBSTR(STRFTIME(o_orderdate, '%Y-%m-%d'), 1, 4) AS INTEGER) AS od_year
        FROM orders
        ORDER BY o_orderkey
    """,
    tags=("B2",),
    doc="B2 conditional expressions + casts in one orders projection: "
    "CASE WHEN / nullif / coalesce / greatest / least plus casts across "
    "decimal/double/string/date (the per-family originals remain in the "
    "registry tail).",
)
def exprs_casts_pack(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 1000, "small")
        .when(F.col("o_totalprice") < 100000, "mid")
        .otherwise("large")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_adj"
        ),
        F.greatest(
            F.col("o_totalprice").cast("decimal(18,2)"), F.lit(50000).cast("decimal(18,2)")
        )
        .cast("double")
        .alias("price_floor50k"),
        F.least(F.col("o_custkey").cast("long"), F.lit(100)).alias("cust_cap"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price_dec"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price_str"),
        F.col("o_orderkey").cast("double").alias("key_dbl"),
        F.col("o_orderdate").cast("date").alias("od_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od_str"),
        F.substring(F.date_format("o_orderdate", "yyyy-MM-dd"), 1, 4)
        .cast("int")
        .alias("od_year"),
    ).orderBy("o_orderkey")
