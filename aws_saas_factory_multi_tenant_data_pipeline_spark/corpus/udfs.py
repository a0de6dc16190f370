"""B9 UDF / UDAF / UDTF surface: row-at-a-time Python UDF (documented last
resort), vectorized pandas_udf, grouped-map applyInPandas, grouped-agg
UDAF, mapInPandas, table functions.

Numeric UDF outputs are designed for exactness (integer arithmetic or
fixed-decimal rounding) so the oracle hash-matches despite Python-side
computation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t, table_sql


@register(
    "udf_python_scalar",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice < 5000 THEN 'S'
                    WHEN o_totalprice < 20000 THEN 'M'
                    ELSE 'L' END AS size_band
        FROM orders
        ORDER BY o_orderkey
    """,
    tags=("B9",),
    doc="Row-at-a-time Python UDF (the documented slow path — same semantics "
    "as a CASE expression; kept tiny and off the hot path).",
)
def udf_python_scalar(spark, sf_dir):
    @F.udf(T.StringType())
    def band(p: float) -> str:
        return "S" if p < 5000 else ("M" if p < 20000 else "L")

    o = t(spark, sf_dir, "orders")
    return o.select("o_orderkey", band("o_totalprice").alias("size_band")).orderBy("o_orderkey")


@register(
    "udf_pandas_scalar",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS net_cents
        FROM lineitem
        WHERE l_orderkey <= 1000
        ORDER BY l_orderkey, l_linenumber
    """,
    tags=("B9",),
    doc="Vectorized pandas_udf (Arrow batches): net price in integer cents "
    "(exact, order-independent).",
)
def udf_pandas_scalar(spark, sf_dir):
    @F.pandas_udf(T.LongType())
    def net_cents(price: pd.Series, disc: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.floor((price * (1 - disc) * 100) + 0.5).astype("int64"))

    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_cents("l_extendedprice", "l_discount").alias("net_cents"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "udf_grouped_map",
    oracle="""
        SELECT event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS value_rank
        FROM events
        ORDER BY event_id
    """,
    tags=("B9",),
    doc="Grouped-map applyInPandas: per-group rank (integer output ⇒ exact).",
)
def udf_grouped_map(spark, sf_dir):
    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["value", "event_id"]).reset_index(drop=True)
        pdf["value_rank"] = range(1, len(pdf) + 1)
        return pdf[["event_id", "event_type", "value_rank"]]

    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return (
        e.groupBy("event_type")
        .applyInPandas(rank_group, "event_id long, event_type string, value_rank long")
        .orderBy("event_id")
    )


@register(
    "udf_grouped_agg",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * user_id) AS BIGINT) AS weighted_cents
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("B9",),
    doc="Grouped-agg pandas UDAF: user-weighted value total in integer cents "
    "(exact integer arithmetic ⇒ order-independent).",
)
def udf_grouped_agg(spark, sf_dir):
    @F.pandas_udf(T.LongType())
    def weighted_cents(value: pd.Series, user_id: pd.Series) -> int:
        import numpy as np

        return int((np.floor(value * 100 + 0.5).astype("int64") * user_id).sum())

    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(weighted_cents("value", "user_id").alias("weighted_cents"))
        .orderBy("event_type")
    )


@register(
    "udf_map_in_pandas",
    oracle="""
        SELECT event_id, CAST(FLOOR(value / 10) AS BIGINT) AS value_bucket
        FROM events
        WHERE event_type = 'purchase'
        ORDER BY event_id
    """,
    tags=("B9",),
    doc="mapInPandas: per-partition Arrow batch iterator (custom operator shape).",
)
def udf_map_in_pandas(spark, sf_dir):
    def bucketize(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"event_id": pdf["event_id"], "value_bucket": (pdf["value"] // 10).astype("int64")}
            )

    e = t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return e.mapInPandas(bucketize, "event_id long, value_bucket long").orderBy("event_id")


@register(
    "udf_table_function",
    oracle="""
        WITH base AS (
            SELECT r_regionkey, string_split(r_name, '') AS chars FROM region)
        SELECT r_regionkey, unnest(chars) AS ch
        FROM base
        ORDER BY r_regionkey, ch
    """,
    tags=("B9",),
    doc="Table function surface: explode of an array-returning expression "
    "(LATERAL VIEW equivalent).",
)
def udf_table_function(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    return (
        r.select("r_regionkey", F.explode(F.split("r_name", "")).alias("ch"))
        .orderBy("r_regionkey", "ch")
    )


@register(
    "udf_python_udtf",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts
            FROM orders WHERE o_orderkey <= 2000)
        SELECT o_orderkey, CAST(i - 1 AS INT) AS pos, parts[i] AS part
        FROM base, LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i)
        ORDER BY o_orderkey, pos
    """,
    tags=("B9",),
    doc="Real Python UDTF (Spark 4 @udtf, arrow-enabled lateral table "
    "function) — completes the B9 surface beyond the explode-based "
    "LATERAL VIEW form. Like the other B9 demos this is the documented "
    "slow path: the same expansion in production is the codegen'd "
    "posexplode(split(...)) one line below it.",
)
def udf_python_udtf(spark, sf_dir):
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="pos int, part string")
    class SplitParts:
        def eval(self, s: str):
            for i, p in enumerate((s or "").split("-")):
                yield i, p

    spark.udtf.register("split_parts", SplitParts)
    return table_sql(spark, sf_dir, """
        SELECT o.o_orderkey, s.pos, s.part
        FROM {orders} o, LATERAL split_parts(o.o_orderpriority) s
        WHERE o.o_orderkey <= 2000
        ORDER BY o.o_orderkey, s.pos
    """)


@register(
    "udf_scalar_py_pandas",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice < 5000 THEN 'S'
                    WHEN o_totalprice < 20000 THEN 'M'
                    ELSE 'L' END AS size_band,
               CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        FROM orders
        WHERE o_orderkey <= 2000
        ORDER BY o_orderkey
    """,
    tags=("B9",),
    doc="Row-at-a-time Python UDF (size_band) + vectorized pandas UDF "
    "(price_cents, Arrow batches) in one projection — one graded slot "
    "covers both §2 scalar-UDF rows. Integer outputs keep it exact.",
)
def udf_scalar_py_pandas(spark, sf_dir):
    @F.udf(T.StringType())
    def band(p: float) -> str:
        return "S" if p < 5000 else ("M" if p < 20000 else "L")

    @F.pandas_udf(T.LongType())
    def price_cents(p: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.floor(p * 100 + 0.5).astype("int64"))

    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey", band("o_totalprice").alias("size_band"), price_cents("o_totalprice").alias("price_cents")
    ).orderBy("o_orderkey")


@register(
    "udf_grouped_map_agg",
    oracle="""
        SELECT 'gmap' AS kind, event_type, CAST(COUNT(*) AS BIGINT) AS metric
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'gagg' AS kind, event_type,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * user_id) AS BIGINT) AS metric
        FROM events GROUP BY event_type
        ORDER BY kind, event_type
    """,
    tags=("B9",),
    doc="applyInPandas grouped-map (per-group row count computed pandas-side) "
    "+ grouped-agg pandas UDAF (integer-exact weighted total) as labeled "
    "branches — one graded slot covers both §2 grouped-UDF rows.",
)
def udf_grouped_map_agg(spark, sf_dir):
    def group_size(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {"kind": ["gmap"], "event_type": [pdf["event_type"].iloc[0]], "metric": [len(pdf)]}
        )

    @F.pandas_udf(T.LongType())
    def weighted_cents(value: pd.Series, user_id: pd.Series) -> int:
        import numpy as np

        return int((np.floor(value * 100 + 0.5).astype("int64") * user_id).sum())

    e = t(spark, sf_dir, "events").select("event_type", "value", "user_id")
    gmap = e.groupBy("event_type").applyInPandas(
        group_size, "kind string, event_type string, metric long"
    )
    gagg = (
        e.groupBy("event_type")
        .agg(weighted_cents("value", "user_id").alias("metric"))
        .select(F.lit("gagg").alias("kind"), "event_type", "metric")
    )
    return gmap.unionByName(gagg).orderBy("kind", "event_type")
