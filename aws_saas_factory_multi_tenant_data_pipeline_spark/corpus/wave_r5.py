"""Round-5 wave: skew-salted joins, privacy releases (pseudonymization +
differential privacy), file-level data skipping, retention TTL, equi-width
histograms, and hard-negative mining.

Each query pairs a production operator with a DuckDB oracle that replays
its full semantics — the salted join must be row-identical to the plain
join, the DP release must reproduce every noisy value (derandomized
Laplace), the skipping scan must equal the full-scan filter, and the
retention read-back must equal a date filter over the source.

Reference anchors: the tenant-keyed shuffle the salting protects is the
reference's own partitioning choice (`apigateway-stack.ts:126` Kinesis
PartitionKey = tenantId — one hot tenant = one hot shard); the privacy
releases gate the Athena export surface (`athena-stack.ts:16`); retention
TTL and file skipping operate on the A4 lake layout
(`kinesis-stack.ts:137-138`).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus import register
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus._util import t
from aws_saas_factory_multi_tenant_data_pipeline_spark.corpus.sources_sinks import _SCRATCH
from aws_saas_factory_multi_tenant_data_pipeline_spark.functions import dsum, sql_dsum
from aws_saas_factory_multi_tenant_data_pipeline_spark.lake import (
    build_file_stats_index,
    expire_partitions,
    read_with_skipping,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.privacy import (
    dp_noisy_counts,
    pseudonymize,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.similarity import (
    hard_negatives,
)
from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.skew import salted_join


@register(
    "join_skew_salted",
    oracle=f"""
        WITH dim AS (
            SELECT user_id, {sql_dsum('value')} AS user_total
            FROM events GROUP BY user_id)
        SELECT e.event_type, COUNT(*) AS n, {sql_dsum('d.user_total')} AS total
        FROM events e JOIN dim d ON e.user_id = d.user_id
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
    tags=("B3", "scale"),
    doc="Skew-salted join (hot keys spread over 8 salt buckets, build side "
    "replicated only for hot keys) — row-identical to the plain join, "
    "verified by a plain-join oracle. The 100 TB fix for one-hot-tenant "
    "shuffles (the reference's own partitioning pathology, "
    "apigateway-stack.ts:126).",
)
def join_skew_salted(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(dsum("value").alias("user_total"))
    joined = salted_join(ev, dim, "user_id", salt=8, how="inner", hot_min_count=50)
    return (
        joined.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("user_total").alias("total"))
        .orderBy("event_type")
    )


@register(
    "privacy_dp_counts",
    oracle="""
        WITH cells AS (
            SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
            FROM customer GROUP BY c_nationkey, c_mktsegment),
        noised AS (
            SELECT c_nationkey, c_mktsegment, n,
                   (CAST(('0x' || substr(md5('dp-r5|c_nationkey=' || CAST(c_nationkey AS VARCHAR)
                                               || '|c_mktsegment=' || c_mktsegment), 1, 13)) AS BIGINT)
                    + 0.5) / 4503599627370496.0 AS u
            FROM cells)
        SELECT c_nationkey, c_mktsegment,
               ROUND(n + (-2.0) * (CASE WHEN u - 0.5 < 0 THEN -1.0 ELSE 1.0 END)
                         * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n,
               CAST(0.5 AS DOUBLE) AS epsilon
        FROM noised
        ORDER BY c_nationkey, c_mktsegment
    """,
    tags=("B10", "privacy"),
    doc="ε-DP noisy counts (Laplace, ε=0.5) over (nation, segment) cells "
    "with a DERANDOMIZED md5-driven noise draw — reproducible releases, "
    "no extra ε spent on retries, and the oracle re-derives every noisy "
    "value. True counts never leave the engine.",
)
def privacy_dp_counts(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    return dp_noisy_counts(
        cust, ["c_nationkey", "c_mktsegment"], epsilon=0.5, seed="dp-r5"
    ).orderBy("c_nationkey", "c_mktsegment")


@register(
    "privacy_pseudonymize",
    oracle="""
        SELECT c_custkey,
               'pn_' || substr(md5('r5-key:c_name:' || c_name), 1, 16) AS c_name,
               'pn_' || substr(md5('r5-key:c_mktsegment:' || c_mktsegment), 1, 16) AS c_mktsegment
        FROM customer
        WHERE c_custkey <= 500
        ORDER BY c_custkey
    """,
    tags=("B10", "privacy"),
    doc="Keyed pseudonymization of direct identifiers (name, phone): "
    "deterministic md5(secret:column:value) surrogates — referential "
    "integrity preserved, column-separated, dictionary attack requires "
    "the key. Scan-speed, no shuffle.",
)
def privacy_pseudonymize(spark, sf_dir):
    cust = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 500)
    out = pseudonymize(cust, ["c_name", "c_mktsegment"], secret="r5-key")
    return out.select("c_custkey", "c_name", "c_mktsegment").orderBy("c_custkey")


@register(
    "agg_histogram_equiwidth",
    oracle=f"""
        SELECT LEAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 11) AS bucket,
               COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
        FROM orders
        GROUP BY 1
        ORDER BY bucket
    """,
    tags=("B4",),
    doc="Equi-width histogram (12 × 50k buckets over order totalprice): "
    "one map-side-combined groupBy on the bucket id; per-partition "
    "histograms merge by adding counts (property-tested), the mergeable-"
    "summary shape profiling at 100 TB requires.",
)
def agg_histogram_equiwidth(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / F.lit(50000.0)).cast("long"), F.lit(11))
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))
        .orderBy("bucket")
    )


@register(
    "scan_file_skipping",
    oracle=f"""
        SELECT COUNT(*) AS n, {sql_dsum('o_totalprice')} AS total
        FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
    """,
    tags=("B1", "scale"),
    doc="File-level data skipping: range-clustered parquet + per-file "
    "min/max manifest (built in ONE scan via _metadata.file_path); the "
    "range read opens only intersecting files, then re-applies the row "
    "filter. Equals the full-scan filter; the skip rate is pinned in "
    "tests/test_lake_ops.py.",
)
def scan_file_skipping(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    data_root = os.path.join(_SCRATCH, "orders_skidx_data")
    index_root = os.path.join(_SCRATCH, "orders_skidx_idx")
    o.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(data_root)
    build_file_stats_index(spark, data_root, ["o_orderkey"], index_root)
    df, _read, _total = read_with_skipping(spark, index_root, "o_orderkey", 1000, 3000)
    return df.agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice").alias("total"))


@register(
    "lake_retention_expire",
    oracle=f"""
        SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n, {sql_dsum('value')} AS total
        FROM events
        WHERE strftime(ts, '%Y-%m-%d') >= '2024-01-25'
        GROUP BY 1
        ORDER BY day
    """,
    tags=("B1", "mgmt"),
    doc="Retention TTL: day-partitioned lake, expire_partitions drops every "
    "partition directory below the cutoff (O(expired) directory deletes, "
    "zero rewrite of survivors — the payoff of A4's zero-padded partition "
    "values), read-back equals a date filter over the source.",
)
def lake_retention_expire(spark, sf_dir):
    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    root = os.path.join(_SCRATCH, "events_retention")
    ev.repartition("day").write.mode("overwrite").partitionBy("day").parquet(root)
    expire_partitions(spark, root, "day", "2024-01-25")
    back = spark.read.parquet(root)
    return (
        back.groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
        .orderBy("day")
    )


@register(
    "embedding_hard_negatives",
    oracle="""
        WITH anchors AS (
            SELECT vec_id AS anchor_id, label AS alabel, embedding AS av
            FROM embeddings WHERE vec_id < 8),
        scored AS (
            SELECT anchor_id, vec_id AS neg_id, label AS neg_label,
                   ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(av AS DOUBLE[]))
                         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(CAST(av AS DOUBLE[]), CAST(av AS DOUBLE[])))), 6) AS cosine
            FROM embeddings CROSS JOIN anchors
            WHERE label <> alabel),
        ranked AS (
            SELECT anchor_id, neg_id, neg_label, cosine,
                   ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id) AS rank
            FROM scored)
        SELECT anchor_id, neg_id, neg_label, cosine, rank
        FROM ranked WHERE rank <= 5
        ORDER BY anchor_id, rank
    """,
    tags=("B10",),
    doc="Hard-negative mining for contrastive training: per anchor, the 5 "
    "most-similar WRONG-label vectors (the near-boundary negatives "
    "InfoNCE/triplet losses need). Label filter pushed before the top-k "
    "window; same broadcast-anchor plan as the exact cosine baseline.",
)
def embedding_hard_negatives(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, k=5, anchor_filter=F.col("vec_id") < 8).orderBy(
        "anchor_id", "rank"
    )


# --- unicode normalization (operators/textnorm.py) -------------------------

_DIRTY_PRE = "Caf\u00e9 \u201c"
_DIRTY_MID = "\u201d\u2014 na\u00efve\u200b \u2026"
_DIRTY_EVEN = "\u00a0tail"
_DIRTY_ODD = " x"


def _textnorm_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.textnorm import (
        normalize_unicode_sql,
    )

    dirty = (
        f"'{_DIRTY_PRE}' || substr(text, 1, 60) || '{_DIRTY_MID}' || "
        f"CASE WHEN doc_id % 2 = 0 THEN '{_DIRTY_EVEN}' ELSE '{_DIRTY_ODD}' END"
    )
    norm = normalize_unicode_sql(dirty)
    return f"""
        SELECT doc_id, md5({norm}) AS clean_md5, length({norm}) AS clean_len
        FROM documents
        ORDER BY doc_id
    """


@register(
    "text_normalize_unicode",
    oracle=_textnorm_oracle(),
    tags=("B10", "B7"),
    doc="Unicode normalization for web corpora: accent folding, curly "
    "quote/dash straightening, ellipsis expansion, zero-width strip, "
    "exotic-space/control mapping, space-run collapse - the CCNet-style "
    "cleanup pass, all codegen'd string ops; the DuckDB oracle chain is "
    "GENERATED from the same constant tables so Spark and oracle cannot "
    "drift. Dirty input is constructed in-query (the fixture corpus is "
    "ASCII), identically on both sides.",
)
def text_normalize_unicode(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.textnorm import (
        normalize_unicode,
    )

    docs = t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit(_DIRTY_PRE),
        F.substring("text", 1, 60),
        F.lit(_DIRTY_MID),
        F.when(F.col("doc_id") % 2 == 0, F.lit(_DIRTY_EVEN)).otherwise(F.lit(_DIRTY_ODD)),
    )
    return docs.select(
        "doc_id",
        F.md5(normalize_unicode(dirty)).alias("clean_md5"),
        F.length(normalize_unicode(dirty)).alias("clean_len"),
    ).orderBy("doc_id")


# --- PageRank (operators/graph.py) -----------------------------------------

_PR_EDGES_CTE = """
    SELECT l_partkey AS src, 1000000 + l_suppkey AS dst
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    UNION ALL
    SELECT 1000000 + l_suppkey AS src, l_partkey AS dst
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
"""


def _pagerank_oracle() -> str:
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import (
        pagerank_oracle_sql,
    )

    return pagerank_oracle_sql(_PR_EDGES_CTE, iters=4, damping_pct=85)


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("B10", "graph"),
    doc="PageRank (4 power iterations, d=0.85) over the symmetrized "
    "part-supplier bipartite graph from lineitem. Each iteration: the "
    "node-sized rank frame broadcasts into the dst-partitioned edge "
    "cache and integer contribution sums aggregate in place (zero "
    "edge-sized exchange per round), lineage truncated per round; "
    "FIXED-POINT BIGINT "
    "arithmetic makes the whole loop replay bit-for-bit — the oracle is the "
    "GENERATED unrolled-CTE twin from the same parameters.",
)
def graph_pagerank(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    fwd = li.select(
        F.col("l_partkey").alias("src"), (F.lit(1000000) + F.col("l_suppkey")).alias("dst")
    )
    rev = li.select(
        (F.lit(1000000) + F.col("l_suppkey")).alias("src"), F.col("l_partkey").alias("dst")
    )
    edges = fwd.unionByName(rev)
    return pagerank(edges, iters=4, damping_pct=85).orderBy("node_id")


@register(
    "privacy_masked_export",
    oracle="""
        SELECT c_custkey,
               substr(md5('mk:c_name:' || c_name), 1, 16) AS c_name,
               substr(CAST(c_mktsegment AS VARCHAR), 1, 2) || '***' AS c_mktsegment,
               CAST(NULL AS DOUBLE) AS c_acctbal,
               c_nationkey
        FROM customer
        WHERE c_custkey <= 400
        ORDER BY c_custkey
    """,
    tags=("B10", "privacy"),
    doc="Column-masking policy export (the grantable-view projection): "
    "name hashed (keyed, join-preserving), segment partially shown, "
    "balance nulled, keys kept. Every rule's output is value-checked; "
    "the same expressions back query.create_masked_view.",
)
def privacy_masked_export(spark, sf_dir):
    from aws_saas_factory_multi_tenant_data_pipeline_spark.query import masked_projection

    cust = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 400)
    return (
        masked_projection(
            cust,
            {"c_name": "hash", "c_mktsegment": "partial", "c_acctbal": "null"},
            secret="mk",
        )
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal", "c_nationkey")
        .orderBy("c_custkey")
    )


@register(
    "user_data_export",
    oracle=f"""
        WITH mine AS (SELECT * FROM events WHERE user_id = 7),
        summary AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   {sql_dsum('value')} AS total_value,
                   MIN(ts) AS first_seen,
                   MAX(ts) AS last_seen
            FROM mine GROUP BY event_type)
        SELECT event_type, n, total_value, first_seen, last_seen
        FROM summary
        ORDER BY event_type
    """,
    tags=("A7", "privacy"),
    doc="GDPR Art. 20 data-portability export: one principal's complete "
    "activity summary (their rows only — the subject-access complement "
    "of delete_tenant's right-to-erasure). A user_id-pruned scan + one "
    "aggregate; on the partitioned lake the tenant filter prunes at the "
    "directory level first.",
)
def user_data_export(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    mine = ev.where(F.col("user_id") == 7)
    return (
        mine.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value").alias("total_value"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )
        .orderBy("event_type")
    )


@register(
    "text_encoding_audit",
    oracle=r"""
        WITH audited AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   length(text) - length(regexp_replace(text, '�', '', 'g'))
                       AS n_replacement,
                   length(regexp_replace(text, '[\x20-\x7e\n\t]', '', 'g'))
                       AS n_non_ascii
            FROM documents)
        SELECT doc_id, n_chars, n_replacement, n_non_ascii,
               ROUND(1.0 - CAST(n_non_ascii AS DOUBLE) / GREATEST(n_chars, 1), 6)
                   AS ascii_ratio,
               (n_replacement > 0 OR
                CAST(n_non_ascii AS DOUBLE) / GREATEST(n_chars, 1) > 0.3)
                   AS suspect_encoding
        FROM audited
        ORDER BY doc_id
    """,
    tags=("B10", "quality"),
    doc="Encoding/mojibake audit for web-scraped text: U+FFFD replacement-"
    "character count (the scar a bad charset transcode leaves), non-ASCII "
    "mass, and a suspect flag — the cheap screen that routes broken "
    "transcodes to quarantine before they pollute a training corpus. "
    "Scan-speed regexp counting, no shuffle.",
)
def text_encoding_audit(spark, sf_dir):
    docs = t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_repl = n_chars - F.length(F.regexp_replace("text", "�", ""))
    n_non_ascii = F.length(F.regexp_replace("text", "[\\x20-\\x7e\\n\\t]", ""))
    ratio = F.lit(1.0) - n_non_ascii.cast("double") / F.greatest(n_chars, F.lit(1))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_non_ascii.alias("n_non_ascii"),
        F.round(ratio, 6).alias("ascii_ratio"),
        (
            (n_repl > 0)
            | (n_non_ascii.cast("double") / F.greatest(n_chars, F.lit(1)) > 0.3)
        ).alias("suspect_encoding"),
    ).orderBy("doc_id")
