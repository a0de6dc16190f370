"""B4 aggregation surface: group-by aggs, distinct, percentiles, rollup/cube/
grouping sets, HAVING, FILTER clauses, collect_list/set.

Double aggregates use the decimal-exact dsum/davg helpers so Spark and the
DuckDB oracle agree bit-for-bit (see functions/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t, table_sql
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import davg, dsum, sql_davg, sql_dsum


@register(
    "agg_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {sql_davg('l_quantity')} AS avg_qty,
               {sql_davg('l_extendedprice')} AS avg_price,
               {sql_davg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("B4",),
    doc="Flagship: TPC-H-Q1-shaped pricing summary (map-side partial aggs, "
    "two-phase hash aggregation — the canonical scale-friendly agg plan).",
)
def agg_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "count_distinct_multi",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part,
               COUNT(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("B4",),
    doc="count(DISTINCT …) incl. multi-column distinct.",
)
def count_distinct_multi(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.countDistinct("l_suppkey", "l_partkey").alias("n_supp_part"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "approx_count_distinct",
    oracle=None,  # ◐ approximate by design — driver records rows-only
    tags=("B4",),
    doc="approx_count_distinct (HLL++) per group; tolerance-checked in tests "
    "(±5% vs exact), not hash-matched.",
)
def approx_count_distinct(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))
        .orderBy("l_returnflag")
    )


@register(
    "percentiles_exact",
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
               ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
               ROUND(quantile_cont(l_discount, 0.25), 6) AS p25_disc
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("B4",),
    doc="Exact continuous percentiles (Athena approx_percentile's exact twin).",
)
def percentiles_exact(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
            F.round(F.percentile("l_discount", F.lit(0.25)), 6).alias("p25_disc"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "percentiles_approx",
    oracle=None,  # ◐ approximate by design
    tags=("B4",),
    doc="percentile_approx (Athena approx_percentile parity); tolerance-checked in tests.",
)
def percentiles_approx(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("p50_approx"))
        .orderBy("l_returnflag")
    )


@register(
    "rollup_revenue",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_extendedprice')} AS revenue,
               GROUPING(l_returnflag, l_linestatus) AS gid
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("B4",),
    doc="ROLLUP with grouping_id; NULLS FIRST pinned (Spark default ASC) per "
    "the Athena/Spark null-ordering divergence note (SURVEY §2 footer).",
)
def rollup_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_extendedprice").alias("revenue"), F.grouping_id().alias("gid"))
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "cube_counts",
    oracle="""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               GROUPING(l_returnflag, l_linestatus) AS gid
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    tags=("B4",),
    doc="CUBE with grouping_id.",
)
def cube_counts(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.grouping_id().alias("gid"))
        .orderBy(
            "gid",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "grouping_sets_mixed",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               {sql_dsum('o_totalprice')} AS total,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    tags=("B4",),
    doc="Explicit GROUPING SETS via SQL.",
)
def grouping_sets_mixed(spark, sf_dir):
    return table_sql(spark, sf_dir, """
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """)


@register(
    "having_filter",
    oracle=f"""
        SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 8
        ORDER BY o_custkey
    """,
    tags=("B4",),
    doc="HAVING ≡ post-aggregation filter.",
)
def having_filter(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("spend"))
        .where(F.col("n_orders") >= 8)
        .orderBy("o_custkey")
    )


@register(
    "agg_filter_clause",
    oracle=f"""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS big_qty_rows,
               {sql_dsum('CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0 END')} AS taxed_rev
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("B4",),
    doc="FILTER (WHERE …) clauses and sum(CASE WHEN) equivalents.",
)
def agg_filter_clause(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dsum(F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))).alias("disc_rev"),
            F.count(F.when(F.col("l_quantity") > 25, 1)).alias("big_qty_rows"),
            dsum(
                F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice")).otherwise(F.lit(0))
            ).alias("taxed_rev"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "collect_list_sorted",
    oracle="""
        SELECT n_regionkey,
               to_json(list_sort(list(n_name))) AS nations,
               to_json(list_sort(list(DISTINCT CAST(n_regionkey AS BIGINT) + 0))) AS keys_set
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    tags=("B4",),
    doc="array_agg/collect_list + collect_set, array_sort'ed for determinism; "
    "serialized via to_json on both engines (driver-canonicalizer-safe).",
)
def collect_list_sorted(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.to_json(F.array_sort(F.collect_list("n_name"))).alias("nations"),
            F.to_json(
                F.array_sort(F.collect_set(F.col("n_regionkey").cast("long") + 0))
            ).alias("keys_set"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "minmax_types",
    oracle="""
        SELECT o_orderstatus,
               MIN(o_orderdate) AS first_date,
               MAX(o_orderdate) AS last_date,
               MIN(o_orderpriority) AS min_prio,
               MAX(o_orderpriority) AS max_prio,
               CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
               CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("B4",),
    doc="min/max across timestamp, string, double types.",
)
def minmax_types(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
            F.min("o_orderpriority").alias("min_prio"),
            F.max("o_orderpriority").alias("max_prio"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_having_filter_pack",
    oracle=f"""
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS spend,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
               {sql_dsum("CASE WHEN o_orderpriority LIKE '1-%' THEN o_totalprice ELSE 0 END")} AS urgent_spend
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 8
        ORDER BY o_custkey
    """,
    tags=("B4",),
    doc="B4 HAVING + FILTER-clause aggregates in one orders groupBy (the "
    "per-family originals remain in the registry tail): conditional "
    "aggregates partial-merge map-side like plain sums; HAVING is a "
    "post-aggregation filter on the reduced result.",
)
def agg_having_filter_pack(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("spend"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            dsum(
                F.when(F.col("o_orderpriority").like("1-%"), F.col("o_totalprice")).otherwise(
                    F.lit(0)
                )
            ).alias("urgent_spend"),
        )
        .where(F.col("n_orders") >= 8)
        .orderBy("o_custkey")
    )
