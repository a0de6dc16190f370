"""B8 streaming semantics, verified through their batch-equivalent results
(SURVEY.md §2 B8: ◐ rows run as real streams in tests/, the deterministic
batch twins live here for the oracle gate).

The ingest-enrich query is the A2/A4 dataflow itself (TenantId stamp +
zero-padded partition strings), exercised over the events table.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.streaming import (
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@register(
    "stream_enrich_a2",
    oracle="""
        SELECT event_id,
               'tenant-' || CAST(user_id % 4 AS VARCHAR) AS TenantId,
               epoch_us(ts) // 1000000 AS ingest_epoch,
               strftime(ts, '%Y') AS year,
               strftime(ts, '%m') AS month,
               strftime(ts, '%d') AS day,
               strftime(ts, '%H') AS hour
        FROM events
        ORDER BY event_id
    """,
    tags=("A2", "A4", "B8"),
    doc="The reference's enrich + partition-derivation (…Job.java:74-82 + "
    "kinesis-stack.ts:153-154 jq strftime) as pure narrow projections.",
)
def stream_enrich_a2(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.concat(F.lit("tenant-"), F.pmod(F.col("user_id"), F.lit(4)).cast("string")).alias(
            "TenantId"
        ),
        F.unix_timestamp(F.col("ts")).alias("ingest_epoch"),
        F.date_format("ts", "yyyy").alias("year"),
        F.date_format("ts", "MM").alias("month"),
        F.date_format("ts", "dd").alias("day"),
        F.date_format("ts", "HH").alias("hour"),
    ).orderBy("event_id")


@register(
    "stream_tumbling_hour",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("B8",),
    doc="Tumbling 1-hour window agg (A4's hourly partitioning as a window; "
    "streaming twin in streaming/__init__.py runs with watermark).",
)
def stream_tumbling_hour(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        tumbling_counts(e)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .withColumn("sum_value", F.col("sum_value"))
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_sliding_10m5m",
    oracle="""
        WITH starts AS (
            SELECT event_id, event_type,
                   unnest([to_timestamp(epoch_us(ts) // 1000000 // 300 * 300),
                           to_timestamp(epoch_us(ts) // 1000000 // 300 * 300 - 300)]) AS wstart,
                   ts
            FROM events)
        SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, COUNT(*) AS n
        FROM starts
        WHERE ts >= wstart AND ts < wstart + INTERVAL 10 MINUTE
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("B8",),
    doc="Sliding window (10 min width / 5 min slide): each event lands in "
    "two windows; oracle enumerates both slide starts per event.",
)
def stream_sliding_10m5m(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    return (
        sliding_counts(e)
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_session_30m",
    oracle="""
        WITH ordered AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM ordered)
        SELECT user_id, CAST(session_no AS BIGINT) AS session_no, COUNT(*) AS n,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY user_id, session_no
    """,
    tags=("B8",),
    doc="Session windows (30-min gap): Spark session_window ≡ lag+cumsum "
    "islands (SURVEY §2 B8). Session numbering by start order per user.",
)
def stream_session_30m(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    sess = session_counts(e).select(
        "user_id",
        "n",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )
    w = W.partitionBy("user_id").orderBy("session_start")
    return sess.withColumn("session_no", F.row_number().over(w)).select(
        "user_id", "session_no", "n", "session_start"
    ).orderBy("user_id", "session_no")


@register(
    "stream_dedup_batch_equiv",
    oracle="""
        WITH doubled AS (
            SELECT * FROM events UNION ALL SELECT * FROM events),
        deduped AS (
            SELECT DISTINCT ON (event_id) event_id, event_type, value
            FROM doubled ORDER BY event_id)
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM deduped
        GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("B8",),
    doc="Stateful dedup batch-equivalence: duplicate the stream, "
    "dropDuplicates(event_id) restores exactly-once per key.",
)
def stream_dedup_batch_equiv(spark, sf_dir):
    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    doubled = e.unionByName(e)
    return (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .orderBy("event_type")
    )


@register(
    "stream_static_join",
    oracle="""
        WITH tiers AS (
            SELECT i AS tier_id,
                   i * 50 AS lo_user,
                   CASE WHEN i = 0 THEN 'bronze' WHEN i = 1 THEN 'silver' ELSE 'gold' END AS tier
            FROM range(0, 3) t(i))
        SELECT tier, event_type, COUNT(*) AS n
        FROM events JOIN tiers ON user_id // 50 = tier_id
        GROUP BY tier, event_type
        ORDER BY tier, event_type
    """,
    tags=("B8", "B3"),
    doc="Stream-static join: streaming fact joined to a broadcast static dim "
    "(batch twin; the streaming form is identical code on a readStream df).",
)
def stream_static_join(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], "tier_id long, tier string"
    )
    return (
        e.withColumn("tier_id", (F.col("user_id") / 50).cast("long"))
        .join(F.broadcast(tiers), "tier_id")
        .groupBy("tier", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("tier", "event_type")
    )


@register(
    "stream_stream_join_batch_equiv",
    oracle="""
        WITH views AS (
            SELECT user_id, event_id AS view_id, ts AS view_ts
            FROM events WHERE event_type = 'view'),
        purchases AS (
            SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, p.purchase_id, COUNT(v.view_id) AS n_prior_views
        FROM purchases p
        LEFT JOIN views v
          ON v.user_id = p.user_id
         AND v.view_ts <= p.purchase_ts
         AND v.view_ts >= p.purchase_ts - INTERVAL 30 MINUTE
        GROUP BY p.user_id, p.purchase_id
        ORDER BY p.user_id, p.purchase_id
    """,
    tags=("B8", "B3"),
    doc="Stream-stream interval join, batch twin (the streaming form with "
    "watermarks runs in tests/test_streaming.py::test_stream_stream_join): "
    "purchases joined to the same user's views within the prior 30 minutes "
    "— the attribution-window shape. The interval predicate is exactly "
    "what bounds stream-stream state retention.",
)
def stream_stream_join_batch_equiv(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    views = e.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    joined = purchases.join(
        views,
        (F.col("v_user") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")),
        "left",
    )
    return (
        joined.groupBy("user_id", "purchase_id")
        .agg(F.count("view_id").alias("n_prior_views"))
        .orderBy("user_id", "purchase_id")
    )


@register(
    "stream_sliding_session",
    oracle="""
        WITH starts AS (
            SELECT event_id, event_type,
                   unnest([to_timestamp(epoch_us(ts) // 1000000 // 300 * 300),
                           to_timestamp(epoch_us(ts) // 1000000 // 300 * 300 - 300)]) AS wstart,
                   ts
            FROM events),
        sliding AS (
            SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') || '|' || event_type AS k, COUNT(*) AS n
            FROM starts
            WHERE ts >= wstart AND ts < wstart + INTERVAL 10 MINUTE
            GROUP BY 1),
        ordered AS (
            SELECT user_id, ts,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL 30 MINUTE OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events),
        sessions AS (
            SELECT user_id, ts,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM ordered),
        sess AS (
            SELECT CAST(user_id AS VARCHAR) || '#' || CAST(session_no AS VARCHAR)
                   || '@' || strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS k,
                   COUNT(*) AS n
            FROM sessions GROUP BY user_id, session_no)
        SELECT 'sliding' AS kind, k, n FROM sliding
        UNION ALL
        SELECT 'session' AS kind, k, n FROM sess
        ORDER BY kind, k
    """,
    tags=("B8",),
    doc="Sliding (10m/5m) + session (30m gap) windows as labeled branches — "
    "one graded slot covers both §2 windowed-streaming rows (batch twins of "
    "streaming/__init__.py sliding_counts/session_counts).",
)
def stream_sliding_session(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    sliding = sliding_counts(e).select(
        F.lit("sliding").alias("kind"),
        F.concat(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss"), F.lit("|"), F.col("event_type")
        ).alias("k"),
        "n",
    )
    sess_raw = session_counts(e).select(
        "user_id", "n", F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start")
    )
    w = W.partitionBy("user_id").orderBy("s_start")
    sess = (
        sess_raw.withColumn("session_no", F.row_number().over(w))
        .select(
            F.lit("session").alias("kind"),
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("#"),
                F.col("session_no").cast("string"),
                F.lit("@"),
                F.col("s_start"),
            ).alias("k"),
            "n",
        )
    )
    return sliding.unionByName(sess).orderBy("kind", "k")


@register(
    "stream_late_drop",
    oracle=f"""
        WITH base AS (
            SELECT event_id, event_type, value,
                   CAST(FLOOR(event_id / 2000) AS BIGINT) AS batch,
                   CASE WHEN event_id % 37 = 0 THEN ts - INTERVAL 45 MINUTE
                        ELSE ts END AS event_time
            FROM events),
        bmax AS (SELECT batch, MAX(event_time) AS bmax FROM base GROUP BY batch),
        wm AS (
            SELECT batch,
                   MAX(bmax) OVER (ORDER BY batch
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                       - INTERVAL 10 MINUTE AS filter_wm
            FROM bmax),
        fin AS (SELECT MAX(bmax) - INTERVAL 10 MINUTE AS final_wm FROM bmax),
        kept AS (
            SELECT b.event_type, b.value,
                   CAST(FLOOR(epoch(b.event_time) / 900) * 900 AS BIGINT) AS win_start
            FROM base b JOIN wm USING (batch)
            WHERE wm.filter_wm IS NULL
               OR CAST(FLOOR(epoch(b.event_time) / 900) * 900 AS BIGINT) + 900
                      > epoch(wm.filter_wm)),
        agg AS (
            SELECT event_type, win_start,
                   COUNT(*) AS n,
                   {sql_dsum('value')} AS sum_value
            FROM kept GROUP BY 1, 2)
        SELECT event_type, win_start, n, sum_value
        FROM agg CROSS JOIN fin
        WHERE win_start + 900 <= epoch(final_wm)
        ORDER BY event_type, win_start
    """,
    tags=("B8",),
    doc="Watermark late-data drop rule as a deterministic batch twin "
    "(SURVEY §2 B8's last ◐ row): events are assigned to micro-batches by "
    "arrival order (event_id ranges), every 37th event arrives 45 min "
    "late. Spark's real two-watermark semantics (SPARK-24634): the "
    "late-input filter for batch k uses the PREVIOUS trigger's watermark "
    "(max event time over batches ≤ k-2, minus the 10-min delay) against "
    "the row's WINDOW END, while eviction uses the current watermark — so "
    "a row is dropped iff its 15-min window closed under the lagged "
    "watermark, and windows are emitted only once the final watermark "
    "passes their end. tests/test_streaming.py::"
    "test_late_drop_stream_matches_twin pins a real watermarked append-"
    "mode stream against this same rule (verified empirically: per-batch "
    "progress watermarks + output match it exactly). Plan: two tiny "
    "batch-level aggs broadcast into a narrow filter + one keyed agg.",
)
def stream_late_drop(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "event_type",
        "value",
        F.floor(F.col("event_id") / 2000).cast("long").alias("batch"),
        F.when(
            F.pmod("event_id", F.lit(37)) == 0,
            F.col("ts") - F.expr("INTERVAL 45 MINUTES"),
        )
        .otherwise(F.col("ts"))
        .alias("event_time"),
    )
    bmax = base.groupBy("batch").agg(F.max("event_time").alias("bmax"))
    # batch-count rows only (≤ |events|/2000): a single-partition window is
    # fine. The -2 lag IS the semantics: the late filter uses the previous
    # trigger's watermark (computed from batches ≤ k-2), not the current one.
    prior2 = W.orderBy("batch").rowsBetween(W.unboundedPreceding, -2)
    wm = bmax.select(
        "batch",
        (F.max("bmax").over(prior2) - F.expr("INTERVAL 10 MINUTES")).alias("filter_wm"),
    )
    fin = bmax.agg((F.max("bmax") - F.expr("INTERVAL 10 MINUTES")).alias("final_wm"))
    win_start = (F.floor(F.unix_timestamp("event_time") / 900) * 900).cast("long")
    kept = (
        base.withColumn("win_start", win_start)
        .join(F.broadcast(wm), "batch")
        .where(
            F.col("filter_wm").isNull()
            | (F.col("win_start") + 900 > F.unix_timestamp("filter_wm"))
        )
    )
    agg = kept.groupBy("event_type", "win_start").agg(
        F.count("*").alias("n"), dsum("value").alias("sum_value")
    )
    return (
        agg.crossJoin(F.broadcast(fin))
        .where(F.col("win_start") + 900 <= F.unix_timestamp("final_wm"))
        .select("event_type", "win_start", "n", "sum_value")
        .orderBy("event_type", "win_start")
    )
