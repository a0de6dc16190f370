"""B3 join surface: equi (inner/left/right/full), semi/anti, cross,
theta/range, as-of, multi-way star.

Scale notes: small dims (region/nation/buckets) are explicitly broadcast;
the star join relies on AQE for reorder/skew; the as-of join uses the
union+window plan from operators/joins.py (single shuffle, no candidate
blow-up).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.joins import (
    asof_join,
    binned_range_join,
    range_join,
)


@register(
    "join_inner_star",
    oracle=f"""
        SELECT n_name, o_orderstatus,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
               COUNT(*) AS n_items
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderstatus
        ORDER BY n_name, o_orderstatus
    """,
    tags=("B3", "B4"),
    doc="Multi-way inner equi-join (fact-to-dims; nation broadcast).",
)
def join_inner_star(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_orderstatus")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name", "o_orderstatus")
    )


@register(
    "join_outer_variants",
    oracle="""
        SELECT n.n_nationkey, n.n_name,
               COUNT(c.c_custkey) AS n_cust,
               COUNT(s.s_suppkey) AS n_supp
        FROM nation n
        LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey AND s.s_acctbal > 5000
        GROUP BY n.n_nationkey, n.n_name
        ORDER BY n.n_nationkey
    """,
    tags=("B3",),
    doc="LEFT joins incl. join-condition filters; null-preserving counts.",
)
def join_outer_variants(spark, sf_dir):
    n = t(spark, sf_dir, "nation").alias("n")
    c = t(spark, sf_dir, "customer").alias("c")
    s = t(spark, sf_dir, "supplier").alias("s")
    return (
        n.join(c, F.col("c.c_nationkey") == F.col("n.n_nationkey"), "left")
        .join(
            s,
            (F.col("s.s_nationkey") == F.col("n.n_nationkey")) & (F.col("s.s_acctbal") > 5000),
            "left",
        )
        .groupBy(F.col("n.n_nationkey"), F.col("n.n_name"))
        .agg(F.count("c.c_custkey").alias("n_cust"), F.count("s.s_suppkey").alias("n_supp"))
        .orderBy("n_nationkey")
    )


@register(
    "join_full_outer",
    oracle="""
        WITH cust_n AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
             supp_n AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
        SELECT COALESCE(cust_n.k, supp_n.k) AS nationkey,
               COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        FROM cust_n FULL OUTER JOIN supp_n ON cust_n.k = supp_n.k
        ORDER BY nationkey
    """,
    tags=("B3",),
    doc="FULL OUTER join with coalesced keys.",
)
def join_full_outer(spark, sf_dir):
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.alias("c")
        .join(s.alias("s"), F.col("c.k") == F.col("s.k"), "full_outer")
        .select(
            F.coalesce(F.col("c.k"), F.col("s.k")).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@register(
    "join_semi_anti",
    oracle="""
        SELECT (SELECT COUNT(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 20000)) AS n_with_big_order,
               (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS n_never_ordered
    """,
    tags=("B3",),
    doc="left-semi (EXISTS/IN) and left-anti (NOT EXISTS) rewrites.",
)
def join_semi_anti(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    big = o.where(F.col("o_totalprice") > 20000)
    n_semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi").count()
    n_anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").count()
    return spark.createDataFrame(
        [(n_semi, n_anti)], "n_with_big_order long, n_never_ordered long"
    )


@register(
    "join_cross",
    oracle="""
        SELECT r_name, n_name
        FROM region CROSS JOIN nation
        ORDER BY r_name, n_name
    """,
    tags=("B3",),
    doc="Cartesian product of two small dims.",
)
def join_cross(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name").orderBy("r_name", "n_name")


@register(
    "join_range_theta",
    oracle="""
        WITH buckets AS (
            SELECT i AS bucket_id, i * 20.0 AS lo, i * 20.0 + 19.999999 AS hi
            FROM range(0, 10) t(i)
        )
        SELECT bucket_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM events JOIN buckets ON value >= lo AND value <= hi
        GROUP BY bucket_id
        ORDER BY bucket_id
    """,
    tags=("B3",),
    doc="Theta/range join (non-equi) against a broadcast-small bucket table "
    "— the documented BroadcastNestedLoop case (SURVEY §2 B3).",
)
def join_range_theta(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    buckets = spark.range(0, 10).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 20.0).alias("lo"),
        (F.col("id") * 20.0 + 19.999999).alias("hi"),
    )
    joined = range_join(e, F.broadcast(buckets), None, "value", "lo", "hi")
    return (
        joined.groupBy("bucket_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .orderBy("bucket_id")
    )


@register(
    "join_asof",
    oracle="""
        SELECT l.event_id,
               l.user_id,
               epoch_us(l.ts) AS click_us,
               r.event_id AS purchase_event_id,
               r.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND r.ts <= l.ts
        ORDER BY l.event_id
    """,
    tags=("B3",),
    doc="As-of join (latest purchase at or before each click, per user) via "
    "the union+window single-shuffle plan (operators/joins.py).",
)
def join_asof(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts"), F.col("value")
    )
    joined = asof_join(
        clicks,
        purchases.withColumnRenamed("event_id", "purchase_event_id").withColumnRenamed(
            "value", "purchase_value"
        ),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_event_id", "purchase_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("click_us"),
        "purchase_event_id",
        "purchase_value",
    ).orderBy("event_id")


@register(
    "join_asof_tolerance",
    oracle="""
        SELECT l.event_id, l.user_id, epoch_us(l.ts) AS click_us,
               r.purchase_event_id, r.purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        LEFT JOIN LATERAL (
            SELECT event_id AS purchase_event_id, value AS purchase_value
            FROM events r
            WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
              AND r.ts <= l.ts
              AND epoch_us(l.ts) - epoch_us(r.ts) <= 7200000000
            ORDER BY r.ts DESC LIMIT 1) r ON TRUE
        ORDER BY l.event_id
    """,
    tags=("B3",),
    doc="As-of join with a 2-hour tolerance (pandas merge_asof "
    "semantics): carried matches staler than the tolerance are nulled. "
    "Same union+window single-shuffle plan as join_asof — the tolerance "
    "is one carried timestamp + a conditional projection, not a range "
    "join (operators/joins.py).",
)
def join_asof_tolerance(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        "ts",
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_event_id", "purchase_value"],
        tolerance_seconds=7200,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("click_us"),
        "purchase_event_id",
        "purchase_value",
    ).orderBy("event_id")


@register(
    "join_star_multiway",
    oracle=f"""
        SELECT n_name,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1994-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    tags=("B3", "B4"),
    doc="TPC-H-Q5-shaped 6-way star join (AQE reorder/skew; dims broadcast).",
)
def join_star_multiway(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where((F.col("r_name") == "ASIA") & (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp")))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "join_range_binned",
    oracle="""
        WITH buckets AS (
            SELECT i AS bucket_id, i * 20.0 AS lo, i * 20.0 + 19.999999 AS hi
            FROM range(0, 10) t(i)
        )
        SELECT bucket_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        FROM events JOIN buckets ON value >= lo AND value <= hi
        GROUP BY bucket_id
        ORDER BY bucket_id
    """,
    tags=("B3",),
    doc="Same interval join as join_range_theta but via binned_range_join "
    "(bin equi-join + exact post-filter) — the 100 TB path when neither "
    "side is broadcast-small: hash join on bin ids, no nested loop.",
)
def join_range_binned(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    buckets = spark.range(0, 10).select(
        F.col("id").alias("bucket_id"),
        (F.col("id") * 20.0).alias("lo"),
        (F.col("id") * 20.0 + 19.999999).alias("hi"),
    )
    joined = binned_range_join(e, buckets, "value", "lo", "hi", bin_width=20.0)
    return (
        joined.groupBy("bucket_id")
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .orderBy("bucket_id")
    )


@register(
    "join_bucketed_colocated",
    oracle=f"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               {sql_dsum('o_totalprice')} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("B3", "B1"),
    doc="Co-located (bucketed) join: both sides written bucketBy(8, "
    "custkey) into the session catalog, then sort-merge-joined. Because "
    "the storage layout already hash-partitions both tables on the join "
    "key, the join runs with NO shuffle exchange on either side "
    "(tests/test_plans.py pins this) — the 100 TB answer for a join "
    "repeated every batch: pay the partitioning once at write time, "
    "never again at read time. Merge hint keeps Spark from broadcasting "
    "the small test-scale side so the plan shape matches cluster scale.",
)
def join_bucketed_colocated(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    # a previous session may have left managed-table dirs this session's
    # catalog does not know about — DROP alone won't clear the LOCATION
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    for tbl in ("bkt_orders", "bkt_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        p = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{tbl}")
        p.getFileSystem(hconf).delete(p, True)
    (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .saveAsTable("bkt_orders")
    )
    (
        c.select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .saveAsTable("bkt_customer")
    )
    bo = spark.table("bkt_orders")
    bc = spark.table("bkt_customer").hint("merge")
    return (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
        .orderBy("c_mktsegment")
    )


@register(
    "join_equi_variants",
    oracle="""
        WITH rich_c AS (SELECT * FROM customer WHERE c_acctbal > 9000),
             rich_s AS (SELECT * FROM supplier WHERE s_acctbal > 9000),
             cust_n AS (SELECT CAST(c_nationkey AS BIGINT) AS k, COUNT(*) AS n FROM rich_c GROUP BY 1),
             supp_n AS (SELECT CAST(s_nationkey AS BIGINT) AS k, COUNT(*) AS n FROM rich_s GROUP BY 1)
        SELECT 'inner' AS op, CAST(n_nationkey AS BIGINT) AS k, COUNT(*) AS cnt
        FROM nation JOIN rich_c ON c_nationkey = n_nationkey GROUP BY 2
        UNION ALL
        SELECT 'left' AS op, CAST(n_nationkey AS BIGINT) AS k, COUNT(c_custkey) AS cnt
        FROM nation LEFT JOIN rich_c ON c_nationkey = n_nationkey GROUP BY 2
        UNION ALL
        SELECT 'right' AS op, CAST(n_nationkey AS BIGINT) AS k, COUNT(c_custkey) AS cnt
        FROM rich_c RIGHT JOIN nation ON c_nationkey = n_nationkey GROUP BY 2
        UNION ALL
        SELECT 'full' AS op, COALESCE(cust_n.k, supp_n.k) AS k,
               COALESCE(cust_n.n, 0) + COALESCE(supp_n.n, 0) AS cnt
        FROM cust_n FULL OUTER JOIN supp_n ON cust_n.k = supp_n.k
        ORDER BY op, k
    """,
    tags=("B3",),
    doc="All four equi-join types (inner/left/right/full) as labeled "
    "branches — one graded slot covers the whole §2 equi-join row.",
)
def join_equi_variants(spark, sf_dir):
    n = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), "n_name"
    )
    rich_c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").cast("long").alias("ck"), "c_custkey")
    )
    rich_s = (
        t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").cast("long").alias("sk"), "s_suppkey")
    )
    inner = (
        n.join(rich_c, n.k == rich_c.ck)
        .groupBy("k")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("inner").alias("op"), "k", "cnt")
    )
    left = (
        n.join(rich_c, n.k == rich_c.ck, "left")
        .groupBy("k")
        .agg(F.count("c_custkey").alias("cnt"))
        .select(F.lit("left").alias("op"), "k", "cnt")
    )
    right = (
        rich_c.join(n, rich_c.ck == n.k, "right")
        .groupBy("k")
        .agg(F.count("c_custkey").alias("cnt"))
        .select(F.lit("right").alias("op"), "k", "cnt")
    )
    cust_n = rich_c.groupBy(F.col("ck").alias("jk")).agg(F.count("*").alias("n_c"))
    supp_n = rich_s.groupBy(F.col("sk").alias("jk")).agg(F.count("*").alias("n_s"))
    full = (
        cust_n.alias("c")
        .join(supp_n.alias("s"), F.col("c.jk") == F.col("s.jk"), "full_outer")
        .select(
            F.lit("full").alias("op"),
            F.coalesce(F.col("c.jk"), F.col("s.jk")).alias("k"),
            (F.coalesce(F.col("n_c"), F.lit(0)) + F.coalesce(F.col("n_s"), F.lit(0))).alias(
                "cnt"
            ),
        )
    )
    return inner.unionByName(left).unionByName(right).unionByName(full).orderBy("op", "k")
