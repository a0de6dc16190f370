"""B1 source/sink coverage as oracle-checkable roundtrips: CSV and
JSON-lines readers, partitioned write + partition-discovering scan, catalog
tables. Each query writes a deterministic slice to a scratch dir with the
engine's writer, reads it back with the engine's reader, and aggregates —
the oracle runs the equivalent query straight on the parquet view, so any
loss/corruption in our writer/reader breaks the hash.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t, table_sql
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.sources import read_csv, read_json_lines

# per-process scratch: two concurrent harnesses (e.g. pytest + the driver's
# verify) must not overwrite each other's roundtrip files mid-read
_SCRATCH = os.path.join(tempfile.gettempdir(), f"mtdp_corpus_scratch_{os.getpid()}")


@register(
    "scan_csv_roundtrip",
    oracle=f"""
        SELECT n_regionkey, COUNT(*) AS n, {sql_dsum('n_nationkey')} AS key_sum
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    tags=("B1",),
    doc="CSV sink+source roundtrip (header, explicit schema on read).",
)
def scan_csv_roundtrip(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    path = os.path.join(_SCRATCH, "nation_csv")
    n.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(spark, path, schema=n.schema)
    return (
        back.groupBy("n_regionkey")
        .agg(F.count("*").alias("n"), dsum("n_nationkey").alias("key_sum"))
        .orderBy("n_regionkey")
    )


@register(
    "scan_jsonl_roundtrip",
    oracle=f"""
        SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
        FROM orders WHERE o_orderkey <= 2000
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    tags=("B1",),
    doc="JSON-lines sink+source roundtrip (the reference's lake format; "
    "…Job.java:81 writes one JSON object per line).",
)
def scan_jsonl_roundtrip(spark, sf_dir):
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    path = os.path.join(_SCRATCH, "orders_jsonl")
    o.write.mode("overwrite").json(path)
    back = read_json_lines(spark, path, schema=o.schema)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("o_orderstatus")
    )


@register(
    "scan_partitioned_roundtrip",
    oracle="""
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
        FROM events
        GROUP BY event_type, day
        ORDER BY event_type, day
    """,
    tags=("B1", "A4"),
    doc="Hive-partitioned write + partition-discovering scan roundtrip "
    "(partition cols come back as queryable columns, as Glue/Athena exposes "
    "them; kinesis-stack.ts:137-138 layout).",
)
def scan_partitioned_roundtrip(spark, sf_dir):
    e = t(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    path = os.path.join(_SCRATCH, "events_part")
    (
        e.repartition(F.col("event_type"), F.col("day"))
        .write.mode("overwrite")
        .partitionBy("event_type", "day")
        .parquet(path)
    )
    back = spark.read.option("basePath", path).parquet(path)
    return (
        back.groupBy("event_type", F.col("day").cast("string").alias("day"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "day")
    )


@register(
    "catalog_table_sql",
    oracle=f"""
        SELECT c_mktsegment, COUNT(*) AS n, {sql_dsum('c_acctbal')} AS bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("B1", "A6"),
    doc="Catalog-table query path: spark.sql over the table bound into the "
    "session catalog for this call (A6/A7 shape on the testdata).",
)
def catalog_table_sql(spark, sf_dir):
    return table_sql(spark, sf_dir, """
        SELECT c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS bal
        FROM {customer}
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """)


@register(
    "scan_orc_roundtrip",
    oracle=f"""
        SELECT s_nationkey, COUNT(*) AS n, {sql_dsum('s_acctbal')} AS bal
        FROM supplier
        GROUP BY s_nationkey
        ORDER BY s_nationkey
    """,
    tags=("B1",),
    doc="ORC sink+source roundtrip (second columnar format).",
)
def scan_orc_roundtrip(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    path = os.path.join(_SCRATCH, "supplier_orc")
    s.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("s_nationkey")
        .agg(F.count("*").alias("n"), dsum("s_acctbal").alias("bal"))
        .orderBy("s_nationkey")
    )


@register(
    "table_profile",
    oracle="""
        SELECT 'n_nationkey' AS "column", COUNT(*) AS n_rows,
               COUNT(*) - COUNT(n_nationkey) AS n_nulls,
               CAST(MIN(n_nationkey) AS VARCHAR) AS min_value,
               CAST(MAX(n_nationkey) AS VARCHAR) AS max_value
        FROM nation
        UNION ALL
        SELECT 'n_name', COUNT(*), COUNT(*) - COUNT(n_name),
               MIN(n_name), MAX(n_name)
        FROM nation
        ORDER BY "column"
    """,
    tags=("A6", "B4"),
    doc="Single-pass table profiling (null counts, min/max per column) — the "
    "post-crawler sanity sweep; approx_distinct column excluded from the "
    "oracle (HLL, engine-specific).",
)
def table_profile(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.functions.profiling import (
        profile_table,
    )

    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        profile_table(n)
        .select("column", "n_rows", "n_nulls", "min_value", "max_value")
        .orderBy("column")
    )


@register(
    "scan_text_roundtrip",
    oracle="""
        SELECT COUNT(*) AS n_lines,
               CAST(SUM(length(n_name)) AS BIGINT) AS total_chars,
               MIN(n_name) AS first_name
        FROM nation
    """,
    tags=("B1",),
    doc="Plain-text sink+source roundtrip (spark.read.text — one line per "
    "row, `value` column): the raw-log ingestion format; parsing happens "
    "downstream, exactly like the reference's opaque JSON strings.",
)
def scan_text_roundtrip(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    path = os.path.join(_SCRATCH, "nation_text")
    n.select(F.col("n_name").alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min("value").alias("first_name"),
    )


@register(
    "catalog_view_ctas",
    oracle=f"""
        WITH v AS (
            SELECT o_orderpriority, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
            FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, n, total,
               ROUND(total / n, 6) AS avg_price
        FROM v
        ORDER BY o_orderpriority
    """,
    tags=("B1", "A6"),
    doc="View + CTAS catalog path (Athena CREATE VIEW / CREATE TABLE AS "
    "parity): define a logical view over orders, materialize it with "
    "CREATE TABLE AS SELECT into the session catalog (parquet-backed "
    "managed table), query the MATERIALIZED table and derive from it — "
    "proving the DDL surface end-to-end, not just reads. Cleaned up "
    "after read so reruns are idempotent.",
)
def catalog_view_ctas(spark, sf_dir):
    # per-call names, so a concurrent run neither replaces nor drops them;
    # a SQL-defined view would re-resolve {orders} after its binding is gone
    suffix = uuid.uuid4().hex
    view, table = f"orders_prio_v_{suffix}", f"orders_prio_ctas_{suffix}"
    table_sql(spark, sf_dir, """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
        FROM {orders}
        GROUP BY o_orderpriority
    """).createTempView(view)
    try:
        spark.sql(f"CREATE TABLE {table} USING parquet AS SELECT * FROM {view}")
        out = spark.sql(f"""
            SELECT o_orderpriority, n, total, ROUND(total / n, 6) AS avg_price
            FROM {table}
            ORDER BY o_orderpriority
        """)
        # materialize before dropping the backing table (driver collects later)
        rows = out.collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.catalog.dropTempView(view)
    return spark.createDataFrame(rows, out.schema).orderBy("o_orderpriority")


@register(
    "scan_formats_roundtrip",
    oracle=f"""
        SELECT 'csv' AS fmt, CAST(n_regionkey AS VARCHAR) AS k, COUNT(*) AS n,
               {sql_dsum('n_nationkey')} AS val
        FROM nation GROUP BY n_regionkey
        UNION ALL
        SELECT 'jsonl' AS fmt, o_orderstatus AS k, COUNT(*) AS n,
               {sql_dsum('o_totalprice')} AS val
        FROM orders WHERE o_orderkey <= 2000 GROUP BY o_orderstatus
        UNION ALL
        SELECT 'part' AS fmt, event_type || '/' || strftime(ts, '%Y-%m-%d') AS k,
               COUNT(*) AS n, {sql_dsum('user_id')} AS val
        FROM events GROUP BY 2
        ORDER BY fmt, k
    """,
    tags=("B1", "A4"),
    doc="CSV + JSON-lines + hive-partitioned parquet sink/source roundtrips "
    "as labeled branches — one graded slot covers three §2 B1 rows. Any "
    "writer/reader loss or partition-discovery break changes the hash.",
)
def scan_formats_roundtrip(spark, sf_dir):
    # csv branch: nation roundtrip
    n = t(spark, sf_dir, "nation")
    csv_path = os.path.join(_SCRATCH, "w50_nation_csv")
    n.write.mode("overwrite").option("header", "true").csv(csv_path)
    csv_back = read_csv(spark, csv_path, schema=n.schema)
    csv_b = (
        csv_back.groupBy(F.col("n_regionkey").cast("string").alias("k"))
        .agg(F.count("*").alias("n"), dsum("n_nationkey").alias("val"))
        .select(F.lit("csv").alias("fmt"), "k", "n", "val")
    )
    # jsonl branch: orders slice roundtrip
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    jl_path = os.path.join(_SCRATCH, "w50_orders_jsonl")
    o.write.mode("overwrite").json(jl_path)
    jl_back = read_json_lines(spark, jl_path, schema=o.schema)
    jl_b = (
        jl_back.groupBy(F.col("o_orderstatus").alias("k"))
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("val"))
        .select(F.lit("jsonl").alias("fmt"), "k", "n", "val")
    )
    # partitioned branch: events hive-partitioned write + discovering scan
    e = t(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    pt_path = os.path.join(_SCRATCH, "w50_events_part")
    (
        e.repartition(F.col("event_type"), F.col("day"))
        .write.mode("overwrite")
        .partitionBy("event_type", "day")
        .parquet(pt_path)
    )
    pt_back = spark.read.option("basePath", pt_path).parquet(pt_path)
    pt_b = (
        pt_back.groupBy(
            F.concat(F.col("event_type"), F.lit("/"), F.col("day").cast("string")).alias("k")
        )
        .agg(F.count("*").alias("n"), dsum("user_id").alias("val"))
        .select(F.lit("part").alias("fmt"), "k", "n", "val")
    )
    return csv_b.unionByName(jl_b).unionByName(pt_b).orderBy("fmt", "k")
