"""Time-series completion operators (SURVEY.md §2 B5/B7 extension): the
gap-filling / carry-forward shapes every metering and monitoring pipeline
needs over the reference's hourly-partitioned lake (kinesis-stack.ts:137
implies a dense time axis; real event streams have holes).

Scale notes:
- The dense axis comes from sequence()+explode per group — a narrow
  per-group expansion (span/day rows), never a driver loop or a cross
  join against a calendar table.
- LOCF is one window pass (last ignore-nulls over rows-unbounded) — a
  single sort within the existing (type, day) partitioning.
- The recursive CTE variant exists for SQL parity (Spark 4 WITH
  RECURSIVE ≡ DuckDB); iterations execute as chained plans, so the
  sequence()+explode form is the 100 TB path and recursion is for
  short spines (a month axis, an org hierarchy), not fact data.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t, table_sql
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum


def _daily_counts(spark, sf_dir):
    # value > 180 thins events to ~22-26 observed days per type over the
    # ~30-day span, so the fill paths below hit real holes at every sf
    ev = t(spark, sf_dir, "events").where(F.col("value") > 180)
    return ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count("*").alias("cnt"), dsum("value").alias("v"))


def _dense_axis(daily):
    spans = daily.groupBy("event_type").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    return spans.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d"),
    )


@register(
    "timeseries_gap_fill",
    oracle="""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS cnt
            FROM events WHERE value > 180 GROUP BY 1, 2
        ),
        spans AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
        axis AS (
            SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
            FROM spans
        )
        SELECT axis.event_type, axis.d, COALESCE(daily.cnt, 0) AS cnt
        FROM axis LEFT JOIN daily
          ON axis.event_type = daily.event_type AND axis.d = daily.d
        ORDER BY axis.event_type, axis.d
    """,
    tags=("B5", "B7"),
    doc="Gap-fill: dense per-type daily axis via sequence()+explode over "
    "each group's [min,max] span, left-joined to observed counts, holes "
    "as 0 — no calendar table, no driver loop.",
)
def timeseries_gap_fill(spark, sf_dir):
    daily = _daily_counts(spark, sf_dir)
    axis = _dense_axis(daily)
    return (
        axis.join(daily, ["event_type", "d"], "left")
        .select(
            "event_type", "d", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
        .orderBy("event_type", "d")
    )


@register(
    "timeseries_locf",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   {sql_dsum('value')} AS v
            FROM events WHERE value > 180 GROUP BY 1, 2
        ),
        spans AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
        axis AS (
            SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
            FROM spans
        ),
        sparse AS (
            SELECT axis.event_type, axis.d, daily.v
            FROM axis LEFT JOIN daily
              ON axis.event_type = daily.event_type AND axis.d = daily.d
        )
        SELECT event_type, d,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        FROM sparse
        ORDER BY event_type, d
    """,
    tags=("B5",),
    doc="Last-observation-carried-forward: gap-filled axis with NULL "
    "holes, then one last(ignorenulls) window pass — the standard "
    "sensor/metric interpolation.",
)
def timeseries_locf(spark, sf_dir):
    daily = _daily_counts(spark, sf_dir)
    axis = _dense_axis(daily)
    sparse = axis.join(daily, ["event_type", "d"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sparse.select(
        "event_type",
        "d",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    ).orderBy("event_type", "d")


@register(
    "recursive_cte_month_spine",
    oracle="""
        WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM months
            WHERE m < TIMESTAMP '1995-12-01'
        ),
        monthly AS (
            SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS cnt
            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
        )
        SELECT m, COALESCE(cnt, 0) AS order_cnt
        FROM months LEFT JOIN monthly ON mo = m
        ORDER BY m
    """,
    tags=("B2", "B6"),
    doc="WITH RECURSIVE month spine (Spark 4) left-joined to monthly "
    "order counts — SQL-parity gap fill; recursion is for short spines, "
    "sequence()+explode is the fact-data path (see module docstring).",
)
def recursive_cte_month_spine(spark, sf_dir):
    return table_sql(spark, sf_dir, """
        WITH RECURSIVE months(m) AS (
            SELECT TIMESTAMP '1995-01-01'
            UNION ALL
            SELECT m + INTERVAL '1' MONTH FROM months
            WHERE m < TIMESTAMP '1995-12-01'
        ),
        monthly AS (
            SELECT date_trunc('month', o_orderdate) AS mo, COUNT(*) AS cnt
            FROM {orders} WHERE year(o_orderdate) = 1995 GROUP BY 1
        )
        SELECT m, COALESCE(cnt, 0) AS order_cnt
        FROM months LEFT JOIN monthly ON mo = m
        ORDER BY m
    """)


@register(
    "timeseries_linear_interp",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   {sql_dsum('value')} AS v
            FROM events WHERE value > 180 GROUP BY 1, 2
        ),
        spans AS (SELECT event_type, MIN(d) AS lo, MAX(d) AS hi FROM daily GROUP BY 1),
        axis AS (
            SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d
            FROM spans
        ),
        sparse AS (
            SELECT axis.event_type, axis.d, daily.v
            FROM axis LEFT JOIN daily
              ON axis.event_type = daily.event_type AND axis.d = daily.d
        ),
        bounds AS (
            SELECT event_type, d, v,
                   last_value(v IGNORE NULLS) OVER wb AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                       OVER wb AS pd,
                   first_value(v IGNORE NULLS) OVER wf AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
                       OVER wf AS nd
            FROM sparse
            WINDOW wb AS (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, d,
               ROUND(CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN pv IS NULL THEN nv
                   WHEN nv IS NULL THEN pv
                   ELSE pv + (nv - pv) * CAST(date_diff('day', pd, d) AS DOUBLE)
                                       / CAST(date_diff('day', pd, nd) AS DOUBLE)
               END, 6) AS v_interp
        FROM bounds
        ORDER BY event_type, d
    """,
    tags=("B5",),
    doc="Linear interpolation over a gap-filled series: NULL holes get "
    "prev + (next-prev) * elapsed/gap from the nearest known neighbors "
    "(edge holes fall back to the single known side) — the numeric "
    "upgrade of LOCF for sensor/metric series. Two IGNORE NULLS window "
    "passes over the same per-key ordering: one shuffle, codegen only.",
)
def timeseries_linear_interp(spark, sf_dir):
    daily = _daily_counts(spark, sf_dir)
    axis = _dense_axis(daily)
    sparse = axis.join(daily, ["event_type", "d"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    kd = F.when(F.col("v").isNotNull(), F.col("d"))
    bounds = sparse.select(
        "event_type",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(kd, ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(kd, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * F.datediff("d", "pd").cast("double")
            / F.datediff("nd", "pd").cast("double")
        )
    )
    return bounds.select(
        "event_type", "d", F.round(interp, 6).alias("v_interp")
    ).orderBy("event_type", "d")
