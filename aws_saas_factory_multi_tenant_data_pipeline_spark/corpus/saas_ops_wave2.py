"""SaaS data-management wave 2 (round 4): row-level CDC diff, privacy
release gates, per-tenant sliding rate limiting, and schema-evolution
reads.

These are the operational queries a multi-tenant lake needs around the
reference's append-only Firehose pipeline (`kinesis-stack.ts:137-145`):
auditing what changed between two snapshots (no transaction log exists),
gating what aggregate cells are safe to release across tenant boundaries,
detecting per-principal abuse, and reading a lake whose schema widened
over time (the reference's Glue crawler re-infers schema every 5 minutes,
`glue-stack.ts:41-43` — new JSON fields appear as new columns, so the
engine must read old+new files under one merged schema).
"""

from __future__ import annotations

import os

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.sources_sinks import _SCRATCH
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.cdc import cdc_diff
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.layout import (
    zorder_key,
    zorder_key_sql,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.privacy import (
    k_anonymity_report,
)


@register(
    "table_cdc_diff",
    oracle="""
        WITH old_snap AS (
            SELECT o_orderkey, o_totalprice, o_orderstatus
            FROM orders WHERE o_orderkey % 11 <> 0),
        new_snap AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                        ELSE o_totalprice END AS o_totalprice,
                   CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus
            FROM orders WHERE o_orderkey % 7 <> 0)
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                     AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                        THEN 'unchanged'
                    ELSE 'update' END AS change_type,
               o.o_totalprice AS old_o_totalprice,
               n.o_totalprice AS new_o_totalprice,
               o.o_orderstatus AS old_o_orderstatus,
               n.o_orderstatus AS new_o_orderstatus
        FROM old_snap o FULL OUTER JOIN new_snap n USING (o_orderkey)
        WHERE NOT (o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                   AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                   AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
        ORDER BY change_type, o_orderkey
    """,
    tags=("B10", "data-mgmt"),
    doc="Row-level change-data-capture between two snapshots: one "
    "full-outer join keyed on the primary key, null-safe value compare, "
    "insert/delete/update rows with before/after values "
    "(operators/cdc.py). Audits an append-only lake with no txn log.",
)
def table_cdc_diff(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = (
        o.where(F.col("o_orderkey") % 7 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            F.when(F.col("o_orderkey") % 13 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
    )
    d = cdc_diff(old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"])
    return d.select(
        "o_orderkey",
        "change_type",
        "old_o_totalprice",
        "new_o_totalprice",
        "old_o_orderstatus",
        "new_o_orderstatus",
    ).orderBy("change_type", "o_orderkey")


@register(
    "privacy_k_anonymity",
    oracle="""
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS group_n,
               COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT))
                   AS sensitive_distinct,
               COUNT(*) >= 12 AS is_k_anonymous,
               COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) >= 3
                   AS is_l_diverse,
               (COUNT(*) >= 12 AND
                COUNT(DISTINCT CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)) >= 3)
                   AS releasable
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
        ORDER BY c_nationkey, c_mktsegment
    """,
    tags=("B10", "privacy"),
    doc="k-anonymity + l-diversity release gate over quasi-identifier "
    "cells (nation × market segment; sensitive attribute = account-"
    "balance band). One groupBy on the QI domain; the enforcement join "
    "broadcasts the passing-cell list (operators/privacy.py).",
)
def privacy_k_anonymity(spark, sf_dir):
    c = t(spark, sf_dir, "customer").withColumn(
        "__band", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    )
    rep = k_anonymity_report(c, ["c_nationkey", "c_mktsegment"], "__band", k=12, l=3)
    return rep.orderBy("c_nationkey", "c_mktsegment")


@register(
    "tenant_rate_limit_sliding",
    oracle="""
        SELECT event_id, user_id, n_1h, n_1h > 4 AS throttled
        FROM (
            SELECT event_id, user_id,
                   COUNT(*) OVER (
                       PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
                       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS n_1h
            FROM events)
        ORDER BY event_id
    """,
    tags=("B10", "B5", "saas"),
    doc="Per-principal sliding-window rate limit: trailing-1-hour event "
    "count via a RANGE frame over epoch seconds (value-based frame ⇒ "
    "identical peer semantics in Spark and DuckDB), throttle flag at "
    ">4/h. One user_id shuffle; at 100 TB the window state per key is "
    "O(events in 1h), not O(history).",
)
def tenant_rate_limit_sliding(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3599, W.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_1h"),
        )
        .withColumn("throttled", F.col("n_1h") > 4)
        .orderBy("event_id")
    )


@register(
    "privacy_generalize_release",
    oracle="""
        WITH cell0 AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS cn
            FROM customer GROUP BY 1, 2),
        rel0 AS (
            SELECT 0 AS level,
                   CAST(c_nationkey AS VARCHAR) || '/' || c_mktsegment AS qi,
                   cn AS group_n
            FROM cell0 WHERE cn >= 13),
        fail0 AS (SELECT c_nationkey, c_mktsegment FROM cell0 WHERE cn < 13),
        rows1 AS (
            SELECT n.n_regionkey, c.c_mktsegment
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN fail0 f ON f.c_nationkey = c.c_nationkey
                        AND f.c_mktsegment = c.c_mktsegment),
        cell1 AS (
            SELECT n_regionkey, c_mktsegment, COUNT(*) AS cn
            FROM rows1 GROUP BY 1, 2),
        rel1 AS (
            SELECT 1 AS level,
                   CAST(n_regionkey AS VARCHAR) || '/' || c_mktsegment AS qi,
                   cn AS group_n
            FROM cell1 WHERE cn >= 13),
        supp AS (
            SELECT 2 AS level, '*' AS qi,
                   CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS group_n
            FROM cell1 WHERE cn < 13)
        SELECT level, qi, group_n FROM rel0
        UNION ALL SELECT level, qi, group_n FROM rel1
        UNION ALL SELECT level, qi, group_n FROM supp
        ORDER BY level, qi
    """,
    tags=("B10", "privacy"),
    doc="k-anonymity generalization ladder (operators/privacy.py): cells "
    "failing k=13 at (nation, segment) are retried at (region, segment); "
    "the still-failing remainder is suppressed into one '*' row. Each "
    "rung is one groupBy over the shrinking unreleased set + a broadcast "
    "semi-join on the failing-cell list.",
)
def privacy_generalize_release(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.privacy import (
        generalized_release,
    )

    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    rows = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return generalized_release(
        rows,
        [["c_nationkey", "c_mktsegment"], ["n_regionkey", "c_mktsegment"]],
        k=13,
    )


@register(
    "tenant_usage_anomaly",
    oracle="""
        WITH daily AS (
            SELECT 'tenant-' || CAST(user_id % 4 AS VARCHAR) AS tenant_id,
                   CAST(ts AS DATE) AS day, COUNT(*) AS n
            FROM events GROUP BY 1, 2),
        stats AS (
            SELECT tenant_id, day, n,
                   SUM(n) OVER (PARTITION BY tenant_id) AS s1,
                   SUM(n * n) OVER (PARTITION BY tenant_id) AS s2,
                   COUNT(*) OVER (PARTITION BY tenant_id) AS d
            FROM daily)
        SELECT tenant_id, day, n AS n_events,
               ROUND((CAST(d * n - s1 AS DOUBLE) / CAST(d AS DOUBLE))
                     / NULLIF(sqrt(CAST(d * s2 - s1 * s1 AS DOUBLE)
                                   / CAST(d * (d - 1) AS DOUBLE)), 0), 6) AS z,
               COALESCE(ABS((CAST(d * n - s1 AS DOUBLE) / CAST(d AS DOUBLE))
                     / NULLIF(sqrt(CAST(d * s2 - s1 * s1 AS DOUBLE)
                                   / CAST(d * (d - 1) AS DOUBLE)), 0)) >= 2.0,
                     FALSE) AS is_anomaly
        FROM stats
        ORDER BY tenant_id, day
    """,
    tags=("B10", "saas"),
    doc="Per-tenant daily-volume anomaly flags: z-score against the "
    "tenant's own history, computed from EXACT integer sums (d·n−s1, "
    "d·s2−s1², one double division each) so the flag boundary is "
    "deterministic across engines — no float-merge-order wobble. One "
    "(tenant, day) shuffle; the stats window runs over the tiny "
    "aggregated frame. At 100 TB the integer squares move to "
    "decimal(38,0) before squaring.",
)
def tenant_usage_anomaly(spark, sf_dir):
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    daily = (
        e.select(
            F.concat(F.lit("tenant-"), F.pmod("user_id", F.lit(4)).cast("string")).alias(
                "tenant_id"
            ),
            F.col("ts").cast("date").alias("day"),
        )
        .groupBy("tenant_id", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("tenant_id")
    stats = (
        daily.withColumn("s1", F.sum("n").over(w))
        .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(w))
        .withColumn("d", F.count(F.lit(1)).over(w))
    )
    var = (F.col("d") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double") / (
        F.col("d") * (F.col("d") - 1)
    ).cast("double")
    z = (
        (F.col("d") * F.col("n") - F.col("s1")).cast("double") / F.col("d").cast("double")
    ) / F.nullif(F.sqrt(var), F.lit(0.0))
    return stats.select(
        "tenant_id",
        "day",
        F.col("n").alias("n_events"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) >= 2.0, F.lit(False)).alias("is_anomaly"),
    ).orderBy("tenant_id", "day")


_ZBITS = 8
_ZSQL = zorder_key_sql(
    "d.o_custkey", "mm.lo_a", "mm.hi_a", "d.day", "mm.lo_b", "mm.hi_b", _ZBITS
)


@register(
    "lake_zorder_layout",
    oracle=f"""
        WITH d AS (
            SELECT o_orderkey, o_custkey,
                   CAST(FLOOR(epoch(o_orderdate) / 86400) AS BIGINT) AS day
            FROM orders),
        mm AS (
            SELECT MIN(o_custkey) AS lo_a, MAX(o_custkey) AS hi_a,
                   MIN(day) AS lo_b, MAX(day) AS hi_b
            FROM d)
        SELECT {_ZSQL} >> 10 AS z_bucket,
               COUNT(*) AS n,
               MIN(o_custkey) AS cust_lo, MAX(o_custkey) AS cust_hi,
               MIN(day) AS day_lo, MAX(day) AS day_hi
        FROM d, mm
        GROUP BY 1
        ORDER BY z_bucket
    """,
    tags=("B1", "data-mgmt"),
    doc="Z-order (Morton) layout key over (customer, order-day): "
    "min/max-scaled buckets, bit-interleaved with shift/and/or only "
    "(operators/layout.py). Per-coarse-bucket ranges show each bucket "
    "covers a small rectangle of BOTH dimensions — the property that "
    "makes file min/max stats prune two-dimensional predicates. The "
    "physical rewrite (cluster_by_zorder) is exercised in tests.",
)
def lake_zorder_layout(spark, sf_dir):
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long").alias("day"),
    )
    mm = o.agg(
        F.min("o_custkey").alias("lo_a"),
        F.max("o_custkey").alias("hi_a"),
        F.min("day").alias("lo_b"),
        F.max("day").alias("hi_b"),
    )
    z = zorder_key(
        F.col("o_custkey"), F.col("lo_a"), F.col("hi_a"),
        F.col("day"), F.col("lo_b"), F.col("hi_b"), _ZBITS,
    )
    return (
        o.crossJoin(F.broadcast(mm))
        .withColumn("z_bucket", F.shiftright(z, 10))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_custkey").alias("cust_lo"),
            F.max("o_custkey").alias("cust_hi"),
            F.min("day").alias("day_lo"),
            F.max("day").alias("day_hi"),
        )
        .orderBy("z_bucket")
    )


@register(
    "rollup_route_aggregate",
    oracle=f"""
        SELECT 'tenant-' || CAST(user_id % 4 AS VARCHAR) AS tenant,
               {sql_dsum('value')} AS total,
               COUNT(value) AS n,
               CAST(MIN(value) AS DOUBLE) AS lo,
               CAST(MAX(value) AS DOUBLE) AS hi
        FROM events
        GROUP BY tenant
        ORDER BY tenant
    """,
    tags=("B4", "data-mgmt"),
    doc="Materialized-view routing (plans/mv_router.py): the per-tenant "
    "request is answered FROM the (tenant, day) rollup's stored partials "
    "— sum of sums, sum of counts, min of mins, max of maxes — and must "
    "hash-match the direct fact aggregation the oracle computes. The "
    "query fails loudly if the router declines to route.",
)
def rollup_route_aggregate(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.plans.mv_router import (
        AggRequest,
        RollupSpec,
        route,
    )

    fact = t(spark, sf_dir, "events").select(
        F.concat(F.lit("tenant-"), F.pmod("user_id", F.lit(4)).cast("string")).alias(
            "tenant"
        ),
        F.col("ts").cast("date").alias("day"),
        "value",
    )
    rollup = fact.groupBy("tenant", "day").agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        F.count("value").alias("cnt_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    spec = RollupSpec(
        name="daily",
        df=rollup,
        dims=("tenant", "day"),
        partials={
            "sum_value": ("sum", "value"),
            "cnt_value": ("count", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
    )
    req = AggRequest(
        dims=("tenant",),
        aggs={
            "total": ("sum", "value"),
            "n": ("count", "value"),
            "lo": ("min", "value"),
            "hi": ("max", "value"),
        },
    )
    routed, used = route(req, [spec], fact)
    if used != "daily":
        raise RuntimeError("mv_router declined a covered request")
    return routed.select(
        "tenant",
        F.col("total").cast("double").alias("total"),
        "n",
        F.col("lo").cast("double").alias("lo"),
        F.col("hi").cast("double").alias("hi"),
    ).orderBy("tenant")


@register(
    "tenant_ingest_quota",
    oracle="""
        WITH ranked AS (
            SELECT 'tenant-' || CAST(user_id % 4 AS VARCHAR) AS tenant_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id % 4 ORDER BY ts, event_id) AS rn
            FROM events)
        SELECT tenant_id,
               COUNT(*) FILTER (WHERE rn <= 2000) AS accepted,
               COUNT(*) FILTER (WHERE rn > 2000) AS rejected
        FROM ranked
        GROUP BY tenant_id
        ORDER BY tenant_id
    """,
    tags=("B10", "A8", "saas"),
    doc="Per-tenant ingest quota: deterministic arrival order (ts, "
    "event_id), first 2000 records per tenant accepted, the rest "
    "rejected to the quarantine path — the admission-control twin of A5 "
    "error routing. One tenant-keyed window; at 100 TB the quota check "
    "runs per micro-batch against a broadcast remaining-budget dim "
    "rather than a global window (documented trade, same split).",
)
def tenant_ingest_quota(spark, sf_dir):
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy(F.pmod("user_id", F.lit(4))).orderBy("ts", "event_id")
    ranked = e.select(
        F.concat(F.lit("tenant-"), F.pmod("user_id", F.lit(4)).cast("string")).alias(
            "tenant_id"
        ),
        F.row_number().over(w).alias("rn"),
    )
    return (
        ranked.groupBy("tenant_id")
        .agg(
            F.count(F.when(F.col("rn") <= 2000, 1)).alias("accepted"),
            F.count(F.when(F.col("rn") > 2000, 1)).alias("rejected"),
        )
        .orderBy("tenant_id")
    )


@register(
    "lake_time_travel",
    oracle=f"""
        WITH v1 AS (
            SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 5000),
        v2 AS (
            SELECT o_orderstatus,
                   CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 10.0
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey <= 5000 AND o_orderkey % 13 <> 0)
        SELECT 'v1' AS snapshot, o_orderstatus, COUNT(*) AS n,
               {sql_dsum('o_totalprice')} AS total
        FROM v1 GROUP BY o_orderstatus
        UNION ALL
        SELECT 'v2', o_orderstatus, COUNT(*), {sql_dsum('o_totalprice')}
        FROM v2 GROUP BY o_orderstatus
        ORDER BY snapshot, o_orderstatus
    """,
    tags=("B1", "data-mgmt"),
    doc="Snapshot versioning / time travel (lake.write_snapshot / "
    "read_snapshot): two immutable versions written under one root with "
    "an atomically-swapped pointer; the query reads BOTH versions back "
    "and aggregates each — the poor-man's Delta on plain parquet. "
    "Rollback/vacuum semantics covered in tests/test_lake_ops.py.",
)
def lake_time_travel(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
        read_snapshot,
        write_snapshot,
    )

    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 5000)
    root = os.path.join(_SCRATCH, "sw2_time_travel")
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    write_snapshot(o.select("o_orderkey", "o_orderstatus", "o_totalprice"), root)
    v2 = o.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 10.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    write_snapshot(v2, root)

    def agg(df, label):
        return (
            df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
            .select(F.lit(label).alias("snapshot"), "o_orderstatus", "n", "total")
        )

    return (
        agg(read_snapshot(spark, root, version=1), "v1")
        .unionByName(agg(read_snapshot(spark, root), "v2"))
        .orderBy("snapshot", "o_orderstatus")
    )


@register(
    "scan_schema_evolution",
    oracle=f"""
        SELECT (o_orderkey % 2 = 1) AS has_price,
               COUNT(*) AS n,
               {sql_dsum('o_custkey')} AS cust_sum,
               {sql_dsum('CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END')}
                   AS price_sum
        FROM orders
        GROUP BY 1
        ORDER BY has_price
    """,
    tags=("B1", "data-mgmt"),
    doc="Schema-evolution read: generation-1 files (orderkey, custkey) "
    "and generation-2 files (+ totalprice) under one root, read with "
    "mergeSchema — old files surface the new column as NULL. Mirrors the "
    "reference's Glue recrawl picking up new JSON fields "
    "(glue-stack.ts:41-43).",
)
def scan_schema_evolution(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    root = os.path.join(_SCRATCH, "sw2_schema_evolution")
    gen1 = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey")
    gen2 = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(root, "gen1"))
    gen2.write.mode("overwrite").parquet(os.path.join(root, "gen2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "gen1"), os.path.join(root, "gen2")
    )
    return (
        merged.groupBy((F.col("o_orderkey") % 2 == 1).alias("has_price"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_custkey").alias("cust_sum"),
            dsum("o_totalprice").alias("price_sum"),
        )
        .orderBy("has_price")
    )
