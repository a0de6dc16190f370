"""SaaS analytics wave 3 (round 5): BM25 relevance ranking, last-touch
marketing attribution, and RFM customer segmentation.

These complete the analytics surface a SaaS tenant actually runs over
the reference's lake (the Athena delegation, `athena-stack.ts:16`):
ranking documents against a term query (no Presto/Athena builtin —
BM25 is the standard), attributing conversions to the latest preceding
touchpoint (the as-of-join shape re-used from B3), and scoring customers
on recency/frequency/monetary quintiles (pure window functions).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.ext_llm import _DUCK_NORM
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.joins import asof_join
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.ranking import bm25_rank

_BM25_TERMS = ("spark", "window", "merge")


def _bm25_oracle(k: int = 20) -> str:
    """Generated BM25 oracle (3-term query, k1=1.2, b=0.75) — shared by
    text_bm25_rank (direct corpus computation) and text_index_search (the
    persisted inverted index must produce the identical ranking)."""
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
        WITH stats AS (
            SELECT doc_id, string_split({_DUCK_NORM}, ' ') AS tk
            FROM documents),
        lens AS (SELECT doc_id, len(tk) AS dl, tk FROM stats),
        gl AS (
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avgdl
            FROM lens),
        tf AS (
            SELECT doc_id, dl, tok, COUNT(*) AS tf
            FROM (SELECT doc_id, dl, unnest(tk) AS tok FROM lens)
            WHERE tok IN ({terms_sql})
            GROUP BY 1, 2, 3),
        dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        scored AS (
            SELECT doc_id,
                   ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                         * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS ts_
            FROM tf JOIN dfq USING (tok) CROSS JOIN gl),
        agg AS (
            SELECT doc_id, CAST(SUM(CAST(ts_ AS DECIMAL(38,6))) AS DOUBLE) AS score
            FROM scored GROUP BY doc_id),
        ranked AS (
            SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
            FROM agg)
        SELECT doc_id, score, rank FROM ranked WHERE rank <= {k} ORDER BY rank
    """


@register(
    "text_bm25_rank",
    oracle=_bm25_oracle(20),
    tags=("B10",),
    doc="BM25 top-20 for a 3-term query (k1=1.2, b=0.75, Lucene +1 idf): "
    "one tokens projection feeds lengths and term frequencies, query-term "
    "filter prunes the explode before the shuffle, df and (N, avgdl) "
    "broadcast back; per-term scores sum as DECIMAL for cross-engine "
    "bit-equality.",
)
def text_bm25_rank(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    return bm25_rank(docs, list(_BM25_TERMS), k=20).orderBy("rank")


@register(
    "attribution_last_touch",
    oracle=f"""
        WITH touches AS (
            SELECT user_id, ts, event_type FROM (
                SELECT user_id, ts, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                          ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type IN ('view', 'click')) WHERE rn = 1),
        att AS (
            SELECT p.event_id, p.value,
                   (SELECT tt.event_type FROM touches tt
                    WHERE tt.user_id = p.user_id AND tt.ts <= p.ts
                      AND tt.ts >= p.ts - INTERVAL 24 HOUR
                    ORDER BY tt.ts DESC LIMIT 1) AS channel
            FROM events p WHERE p.event_type = 'purchase')
        SELECT COALESCE(channel, 'direct') AS channel,
               COUNT(*) AS n_purchases, {sql_dsum('value')} AS revenue
        FROM att
        GROUP BY 1
        ORDER BY channel
    """,
    tags=("B10", "saas"),
    doc="Last-touch attribution: each purchase credits the user's latest "
    "view/click within 24 h (as-of join with tolerance — single "
    "union+window shuffle, no per-row subquery); unmatched purchases are "
    "'direct'. Touch ties at one timestamp break by max event_id.",
)
def attribution_last_touch(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    touches = (
        ev.where(F.col("event_type").isin("view", "click"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "ts", "event_type")
    )
    purchases = ev.where(F.col("event_type") == "purchase")
    att = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_type"],
        suffix="_touch",
        direction="backward",
        tolerance_seconds=86400.0,
    )
    return (
        att.groupBy(F.coalesce(F.col("event_type_touch"), F.lit("direct")).alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_purchases"), dsum("value").alias("revenue"))
        .orderBy("channel")
    )


@register(
    "customer_rfm_segment",
    oracle=f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   MAX(o_orderdate) AS last_order,
                   COUNT(*) AS frequency,
                   {sql_dsum('o_totalprice')} AS monetary
            FROM orders GROUP BY o_custkey),
        ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
        scored AS (
            SELECT o_custkey,
                   datediff('day', last_order, ref_date) AS recency_days,
                   frequency, monetary,
                   NTILE(5) OVER (ORDER BY datediff('day', last_order, ref_date), o_custkey) AS r_q,
                   NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
                   NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_q
            FROM per_cust CROSS JOIN ref)
        SELECT o_custkey, recency_days, frequency, monetary,
               r_q, f_q, m_q,
               CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code,
               CASE WHEN r_q <= 2 AND f_q <= 2 THEN 'loyal'
                    WHEN r_q >= 4 AND f_q <= 2 THEN 'at_risk'
                    WHEN r_q <= 2 AND f_q >= 4 THEN 'recent'
                    ELSE 'regular' END AS segment
        FROM scored
        ORDER BY o_custkey
    """,
    tags=("B5", "saas"),
    doc="RFM segmentation: per-customer recency/frequency/monetary from "
    "orders, quintile scores via NTILE with total tie-broken orderings "
    "(custkey), rfm code + lifecycle label. One groupBy + three window "
    "passes over the (small) per-customer frame.",
)
def customer_rfm_segment(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    scored = per_cust.crossJoin(F.broadcast(ref)).withColumn(
        "recency_days", F.datediff("ref_date", "last_order")
    )
    r_q = F.ntile(5).over(W.orderBy(F.col("recency_days").asc(), F.col("o_custkey").asc()))
    f_q = F.ntile(5).over(W.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc()))
    m_q = F.ntile(5).over(W.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc()))
    seg = scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r_q.alias("r_q"),
        f_q.alias("f_q"),
        m_q.alias("m_q"),
    )
    return seg.select(
        "*",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).cast("long").alias("rfm_code"),
        F.when((F.col("r_q") <= 2) & (F.col("f_q") <= 2), "loyal")
        .when((F.col("r_q") >= 4) & (F.col("f_q") <= 2), "at_risk")
        .when((F.col("r_q") <= 2) & (F.col("f_q") >= 4), "recent")
        .otherwise("regular")
        .alias("segment"),
    ).orderBy("o_custkey")


@register(
    "text_index_search",
    oracle=_bm25_oracle(20),
    tags=("B10", "scale"),
    doc="BM25 search answered from the PERSISTED inverted index alone "
    "(operators/textindex.py): build once, then read only the md5-hash "
    "buckets the query terms map to — no corpus scan at query time. Must "
    "produce the identical ranking to the direct computation, so it "
    "shares text_bm25_rank's generated oracle.",
)
def text_index_search(spark, sf_dir):
    import os as _os

    from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.sources_sinks import (
        _SCRATCH,
    )
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.textindex import (
        build_text_index,
        search_text_index,
    )

    docs = t(spark, sf_dir, "documents")
    root = _os.path.join(_SCRATCH, "text_index")
    build_text_index(docs, root)
    return search_text_index(spark, root, list(_BM25_TERMS), k=20).orderBy("rank")


@register(
    "table_fk_orphans",
    oracle=f"""
        WITH parents AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0),
        orphans AS (
            SELECT l.* FROM lineitem l
            LEFT JOIN parents p ON l.l_orderkey = p.o_orderkey
            WHERE p.o_orderkey IS NULL)
        SELECT l_returnflag, COUNT(*) AS n_orphans,
               COUNT(DISTINCT l_orderkey) AS n_orphan_keys,
               {sql_dsum('l_extendedprice')} AS orphaned_value
        FROM orphans
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    tags=("B10", "quality"),
    doc="Referential-integrity audit: lineitem rows orphaned by a "
    "simulated partial parent delete (orders % 7 removed). One left-anti "
    "join on a keys-only parent projection — 8-byte keys in the shuffle, "
    "not rows. Completes the constraint gate with the cross-table rule.",
)
def table_fk_orphans(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.constraints import (
        fk_orphans,
    )

    li = t(spark, sf_dir, "lineitem")
    parents = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 != 0)
    orphans = fk_orphans(li, parents, "l_orderkey", "o_orderkey")
    return (
        orphans.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_orphans"),
            F.count_distinct("l_orderkey").alias("n_orphan_keys"),
            dsum("l_extendedprice").alias("orphaned_value"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_benford_digits",
    oracle="""
        WITH cents AS (
            SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
            FROM orders WHERE o_totalprice > 0),
        digits AS (
            SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS digit
            FROM cents),
        dist AS (
            SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
        total AS (SELECT SUM(n) AS tot FROM dist)
        SELECT digit, n,
               ROUND(CAST(n AS DOUBLE) / tot, 6) AS share,
               ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_p,
               ROUND(abs(CAST(n AS DOUBLE) / tot - ln(1.0 + 1.0 / digit) / ln(10.0)), 6) AS abs_dev
        FROM dist CROSS JOIN total
        ORDER BY digit
    """,
    tags=("B4", "quality"),
    doc="Benford first-digit audit over order totals: digit extracted from "
    "exact integer cents (no float-log boundary risk), observed share vs "
    "the Benford expectation ln(1+1/d)/ln(10). The standard cheap fraud/"
    "synthetic-data screen for financial columns; one groupBy on a "
    "9-value key.",
)
def agg_benford_digits(spark, sf_dir):
    o = t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    dist = o.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    total = dist.agg(F.sum("n").alias("tot"))
    benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    share = F.col("n").cast("double") / F.col("tot")
    return (
        dist.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(share, 6).alias("share"),
            F.round(benford, 6).alias("benford_p"),
            F.round(F.abs(share - benford), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


@register(
    "agg_histogram_equidepth",
    oracle=f"""
        WITH bucketed AS (
            SELECT o_totalprice,
                   NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
            FROM orders)
        SELECT bucket, COUNT(*) AS n,
               MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
               {sql_dsum('o_totalprice')} AS total
        FROM bucketed
        GROUP BY bucket
        ORDER BY bucket
    """,
    tags=("B4",),
    doc="Equi-depth (quantile) histogram: NTILE deciles with a total "
    "tie-broken ordering, per-bucket count/bounds/sum — the CBO-style "
    "complement to the equi-width histogram (equal mass per bucket, "
    "bounds track the distribution). The global sort is the cost; at "
    "100 TB use sampled cutpoints + one bucket-assignment pass instead "
    "(the documented percentile_approx path).",
)
def agg_histogram_equidepth(spark, sf_dir):
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    bucket = F.ntile(10).over(W.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc()))
    return (
        o.select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy("bucket")
    )


@register(
    "text_feature_hashing",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS tok
            FROM documents),
        hashed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 32 AS dim
            FROM toks),
        counts AS (
            SELECT doc_id, dim, COUNT(*) AS c FROM hashed GROUP BY doc_id, dim)
        SELECT doc_id,
               CAST(SUM(dim * c) AS BIGINT) AS dot_check,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_dims_hit
        FROM counts
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("B10",),
    doc="Feature hashing (the hashing trick): tokens hash into a fixed "
    "32-dim count vector — the constant-memory featurizer for linear "
    "models/quality classifiers at corpus scale (no vocabulary to build "
    "or broadcast). md5-derived dims make the vectors engine-portable; "
    "the oracle checks per-doc dimension checksums, token mass, and "
    "occupancy.",
)
def text_feature_hashing(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.dedup import tokens

    docs = t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    dim = F.pmod(
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"), F.lit(32)
    )
    counts = tok.groupBy("doc_id", dim.alias("dim")).agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum(F.col("dim") * F.col("c")).cast("long").alias("dot_check"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_dims_hit"),
        )
        .orderBy("doc_id")
    )


def equidepth_histogram_sampled(df, value_col: str, n_buckets: int = 10,
                                rel_err: float = 1e-4):
    """Equi-depth histogram WITHOUT a global sort — the 100 TB form of
    `agg_histogram_equidepth`'s NTILE plan.

    Cutpoints come from Spark's distributed Greenwald-Khanna sketch
    (`approxQuantile`: one scan, executors merge bounded summaries, only
    the ~(1/rel_err) summary reaches the driver); bucket assignment is
    then a broadcast-literal comparison chain folded into ONE map-side-
    combined groupBy. Total cost: two scans, zero shuffles of the data
    itself — versus NTILE's corpus-wide single-partition window sort.

    The bucket boundaries are approximate within ``rel_err`` rank error
    (exact when n·rel_err < 1); the NTILE query remains the exact oracle
    and `tests/test_operators_mgmt.py` property-tests agreement."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = df.stat.approxQuantile(value_col, probs, rel_err)
    v = F.col(value_col)
    bucket = F.lit(1)
    for c in cuts:
        bucket = bucket + F.when(v > F.lit(c), 1).otherwise(0)
    return (
        df.select(v.alias(value_col), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
            dsum(value_col).alias("total"),
        )
        .orderBy("bucket")
    )


@register(
    "agg_histogram_equidepth_sampled",
    oracle=None,  # approximate-by-design: rank error ≤ rel_err; the NTILE
    # query IS the exact oracle and the property test pins agreement
    tags=("B4", "approx"),
    doc="Equi-depth histogram via sampled cutpoints (distributed "
    "Greenwald-Khanna sketch + one bucket-assignment groupBy) — no "
    "global sort anywhere, the plan that survives 100 TB. Approximate "
    "by design (rank error ≤ rel_err, exact when n·rel_err < 1); "
    "bucket-mass and boundary agreement with the exact NTILE form is "
    "property-tested in tests/test_operators_mgmt.py.",
)
def agg_histogram_equidepth_sampled(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return equidepth_histogram_sampled(o, "o_totalprice", n_buckets=10)
