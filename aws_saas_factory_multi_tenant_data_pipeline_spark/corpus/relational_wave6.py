"""Wave-6 relational odds and ends (SURVEY.md §2 B2/B4/B6): inline VALUES
tables, the Presto ``map_agg`` pattern, TABLESAMPLE, and linear-regression
aggregates.

Determinism: regression stats are derived from decimal-exact power sums
(Sx, Sy, Sxx, Syy, Sxy) with the identical closed form on both engines —
native ``regr_*`` in either engine is a float accumulation whose result
depends on partition order, so it is pinned the same way as the higher
moments (scalar_wave5.agg_higher_moments). TABLESAMPLE is sampling — no
cross-engine oracle by construction; the fraction/repeatability contract
is property-tested instead (tests/test_operators_ext.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import duck_sql, t, table_sql


_VALUES_INLINE = """
    WITH region_labels(r_key, label) AS (
        VALUES (0, 'africa-zone'), (1, 'americas-zone'), (2, 'asia-zone'),
               (3, 'europe-zone'), (4, 'mideast-zone')
    )
    SELECT n_nationkey, n_name, label
    FROM {nation} JOIN region_labels ON n_regionkey = r_key
    ORDER BY n_nationkey
"""


@register(
    "fn_values_inline",
    oracle=duck_sql(_VALUES_INLINE),
    tags=("B2", "B6"),
    doc="Inline VALUES table (constant dim decode) joined to a real table "
    "— Athena/Presto VALUES parity; the literal relation broadcasts.",
)
def fn_values_inline(spark, sf_dir):
    return table_sql(spark, sf_dir, _VALUES_INLINE)


@register(
    "agg_map_agg",
    oracle="""
        SELECT n_regionkey,
               to_json(list_sort(list_transform(
                   map_entries(MAP(list(n_nationkey ORDER BY n_nationkey),
                                   list(n_name ORDER BY n_nationkey))),
                   e -> CAST(e.key AS VARCHAR) || '=' || e.value))) AS nation_map
        FROM nation
        WHERE n_nationkey < 12
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    tags=("B4",),
    doc="Presto map_agg ≡ map_from_entries(collect_list(struct(k,v))) — "
    "key→value aggregation into a map column; canonicalized to sorted "
    "'k=v' entries (map iteration order is engine-defined).",
)
def agg_map_agg(spark, sf_dir):
    n = t(spark, sf_dir, "nation").where(F.col("n_nationkey") < 12)
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("n_nationkey", "n_name")))
    )
    entries = F.array_sort(
        F.transform(
            F.map_entries(m),
            lambda e: F.concat_ws("=", e.key.cast("string"), e.value),
        )
    )
    return (
        n.groupBy("n_regionkey")
        .agg(F.to_json(entries).alias("nation_map"))
        .orderBy("n_regionkey")
    )


@register(
    "sample_tablesample",
    oracle=None,  # ◐ sampling: fraction + seed-repeatability property-tested
    tags=("B2",),
    doc="TABLESAMPLE (10 PERCENT) REPEATABLE(42) — Bernoulli row sampling "
    "(Athena TABLESAMPLE BERNOULLI); scan-time filter, no materialization.",
)
def sample_tablesample(spark, sf_dir):
    return table_sql(spark, sf_dir, """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM {lineitem} TABLESAMPLE (10 PERCENT) REPEATABLE (42)
        ORDER BY l_orderkey, l_linenumber
    """)


@register(
    "agg_regression",
    oracle="""
        WITH s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice * l_extendedprice
                                 AS DECIMAL(38,6))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity * l_extendedprice
                                 AS DECIMAL(38,6))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
               round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
                   AS intercept,
               round(((n*sxy - sx*sy) * (n*sxy - sx*sy))
                     / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        FROM s
        ORDER BY l_returnflag
    """,
    tags=("B4",),
    doc="Linear regression (slope/intercept/R²) of price on quantity per "
    "returnflag, from decimal-exact power sums — Presto regr_slope/"
    "regr_intercept parity with bit-identical cross-engine results.",
)
def agg_regression(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    dec = "decimal(38,6)"
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(dec)).cast("double").alias("sx"),
        F.sum(y.cast(dec)).cast("double").alias("sy"),
        F.sum((x * x).cast(dec)).cast("double").alias("sxx"),
        F.sum((y * y).cast(dec)).cast("double").alias("syy"),
        F.sum((x * y).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "join_null_safe_eq",
    oracle="""
        WITH l AS (
            SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
            FROM customer WHERE c_custkey <= 200),
        r AS (
            SELECT NULLIF(seg_name, 'BUILDING') AS seg, seg_code FROM (VALUES
                ('AUTOMOBILE', 1), ('FURNITURE', 2), ('MACHINERY', 3),
                ('HOUSEHOLD', 4), ('BUILDING', 5)) AS t(seg_name, seg_code))
        SELECT l.c_custkey, l.seg, r.seg_code
        FROM l JOIN r ON l.seg IS NOT DISTINCT FROM r.seg
        ORDER BY l.c_custkey, r.seg_code
    """,
    tags=("B3", "B2"),
    doc="Null-safe equality join (Spark <=> / eqNullSafe ≡ IS NOT DISTINCT "
    "FROM): NULL keys MATCH each other instead of dropping — the semantic "
    "corner plain equi-joins get wrong when keys are nullable. BUILDING "
    "is nulled on both sides so the null-bucket join path is exercised.",
)
def join_null_safe_eq(spark, sf_dir):
    c = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    l = c.select("c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg"))
    r = spark.createDataFrame(
        [("AUTOMOBILE", 1), ("FURNITURE", 2), ("MACHINERY", 3),
         ("HOUSEHOLD", 4), ("BUILDING", 5)],
        "seg_name string, seg_code int",
    ).select(F.nullif("seg_name", F.lit("BUILDING")).alias("rseg"), "seg_code")
    return (
        l.join(r, l.seg.eqNullSafe(r.rseg))
        .select("c_custkey", "seg", "seg_code")
        .orderBy("c_custkey", "seg_code")
    )


@register(
    "sort_limit_offset",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20 OFFSET 30
    """,
    tags=("B6",),
    doc="Keyset-free pagination: ORDER BY ... LIMIT 20 OFFSET 30 (Spark "
    "DataFrame.offset + limit after a total sort — rows 31-50 of the "
    "price ranking, o_orderkey tiebreak for determinism).",
)
def sort_limit_offset(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(30)
        .limit(20)
    )
